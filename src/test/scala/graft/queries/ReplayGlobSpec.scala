package graft.queries

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.streaming.Trigger

import graft.SparkTestBase

/** The streaming replay of one testdata table lists exactly its own
  * `<dir>/<table>.parquet` file: not a sibling table whose name shares
  * a prefix or suffix, not a same-named file in a subdirectory, and
  * not a sibling directory that an unescaped glob metacharacter in
  * `dir` would match.
  */
class ReplayGlobSpec extends SparkTestBase {
  import spark.implicits._

  private def touch(p: Path): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, Array[Byte](1))
  }

  private def deleteTree(p: Path): Unit =
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  test("tableGlob matches only <dir>/<table>.parquet, dir metacharacters escaped") {
    val root = Files.createTempDirectory("replay_glob")
    try {
      val dir = root.resolve("sf[1]{a,b}*?\\x")
      for (f <- Seq("documents.parquet", "xdocuments.parquet",
          "documents2.parquet", "documents.parquet.crc",
          "spark-local/blockmgr-0/00/documents.parquet"))
        touch(dir.resolve(f))
      // what the unescaped dir pattern would also match
      touch(root.resolve("sf1ayx").resolve("documents.parquet"))
      val glob = new HPath(DataOpsQueries.tableGlob(dir.toString, "documents"))
      val fs = glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val hits = fs.globStatus(glob).map(_.getPath.toUri.getPath).toSeq
      assert(hits == Seq(dir.resolve("documents.parquet").toString))
    } finally deleteTree(root)
  }

  test("replayTable streams only the table's own file") {
    val dir = Files.createTempDirectory("replay_table")
    try {
      // one flat parquet file per table, the testdata layout
      def writeFlat(rows: Seq[(Long, String)], to: Path): Unit = {
        val out = Files.createTempDirectory(dir, "w")
        rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
          .parquet(out.toString)
        val part = Files.list(out).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.createDirectories(to.getParent)
        Files.move(part, to, StandardCopyOption.REPLACE_EXISTING)
        deleteTree(out)
      }
      writeFlat(Seq(1L -> "a", 2L -> "b"), dir.resolve("documents.parquet"))
      writeFlat(Seq(3L -> "c"), dir.resolve("documents_old.parquet"))
      writeFlat(Seq(4L -> "d"), dir.resolve("sub/documents.parquet"))
      val name = "replay_glob_" + java.util.UUID.randomUUID().toString
        .replace("-", "")
      val q = DataOpsQueries.replayTable(spark, dir.toString, "documents")
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = spark.table(name).as[(Long, String)].collect().sorted.toSeq
      spark.catalog.dropTempView(name)
      assert(got == Seq(1L -> "a", 2L -> "b"))
    } finally deleteTree(dir)
  }
}
