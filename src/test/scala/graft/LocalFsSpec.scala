package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftLocalFileSystem, GraftLocalFs, GraftRawLocalFileSystem}
import graft.streaming.EventStreams

/** The fork-free local filesystem (`graft.core.LocalFs`) against the
  * stock `RawLocalFileSystem` / `LocalFs` as the reference: same modes
  * for created files and directories, same sticky-bit and symlink
  * results, same missing-path error, and the same modes on everything a
  * Spark parquet write, a partitioned CSV write and a checkpointed
  * stream leave behind.
  */
class LocalFsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  private val tmps = scala.collection.mutable.ListBuffer.empty[JPath]
  private def tmp(prefix: String): JPath = {
    val d = Files.createTempDirectory(prefix); tmps += d; d
  }
  override def afterAll(): Unit =
    tmps.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))

  /** Full mode bits (incl. sticky) of a local path, not following links. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Integer].intValue & 0x0fff

  private def raw(fs: RawLocalFileSystem, umask: String): RawLocalFileSystem = {
    val conf = new Configuration(false)
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private val perms = Seq(0x1a4 /* 644 */, 0x180 /* 600 */, 0x1ed /* 755 */,
    0x1ff /* 777 */, 0x1a0 /* 640 */, 0x1e9 /* 751 */).map(m => new FsPermission(m.toShort))
  private val umasks = Seq("022", "077", "002", "027")

  test("created-file and mkdirs modes match the stock raw FS across permissions and umasks") {
    val root = tmp("localfs_modes")
    for (umask <- umasks; perm <- perms) {
      val modes = Seq("stock" -> raw(new RawLocalFileSystem, umask),
                      "graft" -> raw(new GraftRawLocalFileSystem, umask)).map { case (tag, fs) =>
        val base = root.resolve(s"$tag-$umask-${perm.toShort}")
        val f = new Path(base.resolve("f").toString)
        fs.mkdirs(new Path(base.resolve("d/e").toString), perm)
        fs.create(f, perm, true, 4096, 1.toShort, 1L << 20, null).close()
        val g = new Path(base.resolve("g").toString)
        fs.create(g, true).close()
        fs.setPermission(g, perm)
        Seq("f", "g", "d", "d/e").map(r => r -> mode(base.resolve(r)))
      }
      assert(modes(0) == modes(1), s"umask $umask, permission $perm")
    }
    // the masked modes are the expected ones, not merely equal
    val fs = raw(new GraftRawLocalFileSystem, "027")
    val f = new Path(root.resolve("expect").toString)
    fs.create(f, new FsPermission(0x1ff.toShort), true, 4096, 1.toShort, 1L << 20, null).close()
    assert(mode(root.resolve("expect")) == 0x1e8) // 750
  }

  test("the checksummed FileSystem and FileContext wrappers create the stock modes") {
    val root = tmp("localfs_wrappers")
    def viaFs(fs: FileSystem, base: JPath): Seq[(String, Int)] = {
      fs.mkdirs(new Path(base.resolve("d").toString))
      val o = fs.create(new Path(base.resolve("d/f").toString)); o.write(1); o.close()
      fs.rename(new Path(base.resolve("d/f").toString), new Path(base.resolve("d/h").toString))
      Seq("d", "d/h", "d/.h.crc").map(r => r -> mode(base.resolve(r)))
    }
    def viaFc(afs: AbstractFileSystem, base: JPath): Seq[(String, Int)] = {
      val fc = FileContext.getFileContext(afs, new Configuration(false))
      fc.mkdir(new Path(base.resolve("d").toString), FsPermission.getDirDefault, true)
      val o = fc.create(new Path(base.resolve("d/f").toString),
        java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.perms(FsPermission.getFileDefault))
      o.write(1); o.close()
      fc.rename(new Path(base.resolve("d/f").toString), new Path(base.resolve("d/h").toString))
      Seq("d", "d/h", "d/.h.crc").map(r => r -> mode(base.resolve(r)))
    }
    val conf = new Configuration(false)
    val fsStock = new LocalFileSystem(new RawLocalFileSystem); fsStock.initialize(URI.create("file:///"), conf)
    val fsGraft = new GraftLocalFileSystem; fsGraft.initialize(URI.create("file:///"), conf)
    assert(viaFs(fsStock, root.resolve("fs-stock")) == viaFs(fsGraft, root.resolve("fs-graft")))
    val stockConf = new Configuration(false)
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val fcStock = AbstractFileSystem.get(URI.create("file:///"), stockConf)
    val fcGraft = new GraftLocalFs(URI.create("file:///"), conf)
    assert(fcStock.getClass.getName == "org.apache.hadoop.fs.local.LocalFs")
    assert(viaFc(fcStock, root.resolve("fc-stock")) == viaFc(fcGraft, root.resolve("fc-graft")))
  }

  test("a sticky-bit permission still applies through the stock fallback") {
    val root = tmp("localfs_sticky")
    val sticky = new FsPermission(0x3ff.toShort) // 1777
    assert(sticky.getStickyBit)
    Seq("stock" -> raw(new RawLocalFileSystem, "022"),
        "graft" -> raw(new GraftRawLocalFileSystem, "022")).foreach { case (tag, fs) =>
      val d = root.resolve(tag)
      fs.mkdirs(new Path(d.toString))
      fs.setPermission(new Path(d.toString), sticky)
      assert(mode(d) == 0x3ff, s"$tag: ${Integer.toOctalString(mode(d))}")
    }
  }

  test("getFileLinkStatus on a symlink matches the stock FS") {
    val root = tmp("localfs_link")
    val target = root.resolve("target"); Files.write(target, Array[Byte](1, 2, 3))
    val link = root.resolve("link"); Files.createSymbolicLink(link, target)
    val dangling = root.resolve("dangling"); Files.createSymbolicLink(dangling, root.resolve("gone"))
    val stock = raw(new RawLocalFileSystem, "022")
    val graft = raw(new GraftRawLocalFileSystem, "022")
    // the outcome, or the exception class (the stock FS does not see a
    // link through a scheme-qualified path, so a dangling one is missing)
    def outcome(fs: RawLocalFileSystem, form: String) =
      scala.util.Try(fs.getFileLinkStatus(new Path(form))).map { st =>
        (st.isSymlink, st.isDirectory, st.getLen, if (st.isSymlink) st.getSymlink else null)
      }.toEither.left.map(_.getClass)
    for (p <- Seq(link, dangling, target); form <- Seq(p.toString, p.toUri.toString))
      assert(outcome(stock, form) == outcome(graft, form), form)
    // the plain-path form of a link is seen as one, with a qualified target
    val s = graft.getFileLinkStatus(new Path(link.toString))
    assert(s.isSymlink && s.getSymlink == new Path(target.toUri))
    // and FileContext (the graft AbstractFileSystem) sees the same link
    val fc = FileContext.getFileContext(new GraftLocalFs(URI.create("file:///"), new Configuration(false)),
      new Configuration(false))
    val c = fc.getFileLinkStatus(new Path(link.toString))
    assert(c.isSymlink && c.getSymlink.toUri.getPath == target.toString)
  }

  test("a missing path throws FileNotFoundException") {
    val missing = new Path(tmp("localfs_missing").resolve("nope/x").toString)
    Seq(raw(new RawLocalFileSystem, "022"), raw(new GraftRawLocalFileSystem, "022")).foreach { fs =>
      assertThrows[FileNotFoundException](fs.getFileLinkStatus(missing))
      assertThrows[FileNotFoundException](fs.getFileStatus(missing))
    }
  }

  test("the TestSpark session resolves file: to the graft classes through both APIs") {
    val uri = URI.create("file:///")
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf())) {
      val fs = FileSystem.get(uri, conf)
      assert(fs.getClass == classOf[GraftLocalFileSystem], fs.getClass.getName)
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[GraftRawLocalFileSystem])
      assert(FileContext.getFileContext(uri, conf).getDefaultFileSystem.getClass == classOf[GraftLocalFs])
    }
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).getClass ==
      classOf[GraftLocalFileSystem])
  }

  /** A parquet write, a partitioned CSV write and a checkpointed session
    * stream into a parquet sink, all under `root`.
    */
  private def sparkWrites(root: JPath): Unit = {
    val s = spark
    import s.implicits._
    val df = (0 until 300).map(i => (i.toLong, s"k${i % 3}", i * 0.25)).toDF("id", "k", "v")
    df.repartition(2).write.parquet(root.resolve("pq").toString)
    df.write.partitionBy("k").option("header", "true").csv(root.resolve("csv").toString)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[EventStreams.Ev]
    val q = EventStreams.sessionWindowStream(
        input.toDF().withColumn("ts", timestamp_micros(col("ts"))))
      .writeStream.format("parquet").outputMode("append")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .option("path", root.resolve("sink").toString)
      .start()
    try {
      val base = 1700000000000000L
      for (b <- 0 until 3) {
        input.addData((0 until 40).map { i =>
          val n = b * 40 + i
          EventStreams.Ev((n % 4).toLong, base + n * 20L * 60 * 1000000, n.toLong, n * 0.5)
        })
        q.processAllAvailable()
      }
    } finally q.stop()
  }

  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** (path relative to `root` with UUIDs masked, mode) of every file and
    * directory under `root`, sorted.
    */
  private def tree(root: JPath): Seq[(String, Int)] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_ != root).map { p =>
      Uuid.replaceAllIn(root.relativize(p).toString, "<uuid>") -> mode(p)
    }.toSeq.sorted
    finally walk.close()
  }

  test("Spark writes and a checkpointed stream leave the stock FS's file modes") {
    val stockConfs = Seq(
      "fs.file.impl" -> classOf[LocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true",
      "fs.AbstractFileSystem.file.impl" -> "org.apache.hadoop.fs.local.LocalFs")
    val stockRoot = tmp("localfs_spark_stock")
    try {
      stockConfs.foreach { case (k, v) => spark.conf.set(k, v) }
      val conf = spark.sessionState.newHadoopConf()
      val fs = new Path(stockRoot.toUri).getFileSystem(conf).asInstanceOf[LocalFileSystem]
      assert(fs.getRaw.getClass == classOf[RawLocalFileSystem], "the stock run must use the stock FS")
      assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass.getName ==
        "org.apache.hadoop.fs.local.LocalFs")
      sparkWrites(stockRoot)
    } finally stockConfs.foreach { case (k, _) => spark.conf.unset(k) }
    val graftRoot = tmp("localfs_spark_graft")
    sparkWrites(graftRoot)
    val (a, b) = (tree(stockRoot), tree(graftRoot))
    assert(a.exists(_._1.endsWith(".delta")) && a.exists(_._1.startsWith("csv/k=")) &&
      a.exists(_._1.endsWith(".parquet")), "the fixture writes state, partitions and parquet")
    assert(a.map(_._2).distinct.sorted == Seq(0x1a4, 0x1ed), "stock modes are 644 and 755")
    assert(a == b, s"modes differ:\n${a.diff(b).mkString("\n")}\nvs\n${b.diff(a).mkString("\n")}")
  }
}
