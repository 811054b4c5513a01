package graft.lake

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkTestBase
import graft.streaming.IngestStream

/** Pins the fork-free local file system (LocalFs.scala): core-site.xml
  * makes it the `file:` implementation of every session, and it leaves
  * every lake and checkpoint file with the same POSIX mode as Hadoop's
  * stock LocalFileSystem, which sets modes with a `chmod` child process
  * when libhadoop is absent.
  */
class LocalFsSpec extends SparkTestBase {
  import spark.implicits._

  private def hadoopConf = spark.sessionState.newHadoopConf()

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Every file and directory under `root` (not `root` itself) by its
    * relative path, with per-run UUIDs masked, mapped to its mode. */
  private def modes(root: JPath): Map[String, Int] =
    Files.walk(root).iterator().asScala.filter(_ != root)
      .map(p => uuid.replaceAllIn(root.relativize(p).toString, "<uuid>") -> mode(p))
      .toMap

  /** Runs `body` with Hadoop's stock local file systems as the session's
    * `file:` implementations. The cache is off, so `FileSystem.get`
    * builds a stock instance instead of returning the cached one. */
  private def withStockLocalFs[T](body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    val stock = Map(
      "fs.file.impl" -> classOf[LocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true",
      "fs.AbstractFileSystem.file.impl" -> classOf[LocalFs].getName)
    val saved = stock.keys.map(k => k -> Option(hc.get(k)))
    stock.foreach { case (k, v) => hc.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => hc.set(k, v)
      case (k, None) => hc.unset(k)
    }
  }

  /** A partitioned parquet write plus a checkpointed AvailableNow file
    * stream into a partitioned lake, all under `root`. */
  private def writeLakes(root: JPath, drops: String): Unit = {
    Seq(("AAPL", 2024, 1, 1.5), ("AAPL", 2024, 2, 2.5), ("MSFT", 2024, 1, 3.5))
      .toDF("ticker", "year", "month", "close")
      .repartition($"ticker").write.partitionBy("ticker", "year", "month")
      .parquet(s"$root/batch")
    IngestStream.start(spark, drops, s"$root/stream", s"$root/ckpt", availableNow = true)
      .awaitTermination(120000)
  }

  test("every session resolves file: to graft's local file systems") {
    // a bare Configuration (core-site.xml alone), uncached, and the session's
    for (conf <- Seq(new Configuration(), hadoopConf)) {
      val fs = FileSystem.newInstance(new URI("file:///"), conf)
      assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
      fs.close()
      val afs = FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
      assert(afs.isInstanceOf[NioLocalFs], afs.getClass.getName)
    }
    assert(FileSystem.get(new URI("file:///"), hadoopConf).isInstanceOf[NioLocalFileSystem])
    withStockLocalFs {
      assert(FileSystem.get(new URI("file:///"), hadoopConf).getClass === classOf[LocalFileSystem])
      assert(FileContext.getLocalFSFileContext(hadoopConf).getDefaultFileSystem.getClass ===
        classOf[LocalFs])
    }
  }

  test("lake and checkpoint files get the stock file system's modes") {
    val tmp = Files.createTempDirectory("localfs_spec")
    val drops = tmp.resolve("drops")
    Files.createDirectories(drops)
    val day = java.sql.Timestamp.valueOf("2024-01-02 21:00:00").getTime
    Files.writeString(drops.resolve("d1.csv"),
      "ticker,window_start,open,high,low,close,volume,transactions,vwap\n" +
        s"aapl,$day,1,2,0.5,1.5,100,5,1.2\nmsft,$day,5,6,4.5,5.5,300,7,5.2\n")
    val nio = Files.createDirectory(tmp.resolve("nio"))
    val stock = Files.createDirectory(tmp.resolve("stock"))
    writeLakes(nio, drops.toString)
    withStockLocalFs(writeLakes(stock, drops.toString))
    val (got, want) = (modes(nio), modes(stock))
    // the trees hold what the comparison is about: lake partitions,
    // .crc sidecars, and the stream's checkpoint and sink logs
    for (p <- Seq("batch/ticker=AAPL/year=2024/month=2", "stream/_spark_metadata",
                  "ckpt/offsets", "ckpt/commits", "ckpt/.metadata.crc"))
      assert(want.contains(p), s"$p missing from ${want.keys.toSeq.sorted}")
    assert(want.keys.count(_.endsWith(".crc")) > 10)
    assert(got === want)
    assert(want.values.toSet === Set(octal("644"), octal("755")))   // files, directories
  }

  test("setPermission sets plain modes in the JVM and the sticky bit through Hadoop") {
    val tmp = Files.createTempDirectory("localfs_perm")
    val fs = new NioRawLocalFileSystem
    fs.initialize(new URI("file:///"), hadoopConf)
    val file = tmp.resolve("f")
    Files.writeString(file, "x")
    fs.setPermission(new Path(file.toUri), new FsPermission(octal("750").toShort))
    assert(mode(file) === octal("750"))
    // NIO cannot set the sticky bit: only Hadoop's own path gives 1777
    val dir = tmp.resolve("shared")
    Files.createDirectory(dir)
    fs.setPermission(new Path(dir.toUri), new FsPermission(octal("1777").toShort))
    assert(mode(dir) === octal("1777"))
  }

  test("setPermission on a missing path throws an IOException, as stock does") {
    val missing = new Path(Paths.get(Files.createTempDirectory("localfs_missing").toString, "nope").toUri)
    val perm = new FsPermission(octal("644").toShort)
    val nio = new NioRawLocalFileSystem
    nio.initialize(new URI("file:///"), hadoopConf)
    val stock = new org.apache.hadoop.fs.RawLocalFileSystem
    stock.initialize(new URI("file:///"), hadoopConf)
    intercept[IOException](nio.setPermission(missing, perm))
    intercept[IOException](stock.setPermission(missing, perm))
  }
}
