package graft.pipeline

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The sink's fork-free local filesystem: the same permission bits as
  * Hadoop's stock local filesystem, the stock filesystem for every other
  * scheme, and an unchanged `runResumable` output tree.
  */
class SinkSpec extends AnyFunSuite with BeforeAndAfterAll {
  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-sink-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def conf = spark.sparkContext.hadoopConfiguration
  private def bits(p: JPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
  private def hpath(p: JPath): Path = new Path(p.toUri)

  private def rawFs[T <: RawLocalFileSystem](fs: T): T = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  test("PosixLocalFileSystem sets the same bits as the stock RawLocalFileSystem") {
    val stock = rawFs(new RawLocalFileSystem)
    val posix = rawFs(new PosixLocalFileSystem)
    val root = Files.createTempDirectory("graft_sink_perm")
    for (mode <- Seq("600", "640", "644", "700", "750", "755", "444");
         dir <- Seq(false, true)) {
      val perm = new FsPermission(mode)
      def entry(name: String): JPath =
        if (dir) Files.createDirectory(root.resolve(name)) else Files.createFile(root.resolve(name))
      val a = entry(s"stock_${mode}_$dir")
      val b = entry(s"posix_${mode}_$dir")
      stock.setPermission(hpath(a), perm)
      posix.setPermission(hpath(b), perm)
      assert(bits(a) == perm.toString, s"stock $mode dir=$dir")
      assert(bits(b) == bits(a), s"mode $mode dir=$dir")
    }
  }

  test("a sticky-bit mode falls back to Hadoop's chmod and keeps the bit") {
    val d = Files.createTempDirectory("graft_sink_sticky").resolve("shared")
    Files.createDirectory(d)
    rawFs(new PosixLocalFileSystem).setPermission(hpath(d), new FsPermission("1777"))
    assert(Seq("stat", "-c", "%a", d.toString).!!.trim == "1777")
  }

  test("non-file schemes keep Hadoop's filesystem and get no write options") {
    val hdfs = new Path("hdfs://localhost:8020/corpus/out")
    assert(Sink.writeOptions(spark, hdfs.toString).isEmpty)
    assert(Sink.fs(spark, hdfs) eq hdfs.getFileSystem(conf))

    // the classpath has no S3 connector: bind the scheme to a stand-in class
    val s3a = new Path("s3a://bucket/corpus/out")
    conf.set("fs.s3a.impl", classOf[RawLocalFileSystem].getName)
    try {
      assert(Sink.writeOptions(spark, s3a.toString).isEmpty)
      val fs = Sink.fs(spark, s3a)
      assert(fs eq s3a.getFileSystem(conf))
      assert(fs.getClass == classOf[RawLocalFileSystem])
    } finally conf.unset("fs.s3a.impl")

    // a scheme-less path is qualified against fs.defaultFS before choosing
    val local = "/tmp/corpus/out"
    assert(Sink.fs(spark, new Path(local)).isInstanceOf[PosixChecksumFileSystem])
    assert(Sink.writeOptions(spark, local).nonEmpty)
    assert(Sink.writeOptions(spark, "file:" + local).nonEmpty)
    val defaultFs = conf.get("fs.defaultFS")
    conf.set("fs.defaultFS", "hdfs://localhost:8020")
    try {
      assert(Sink.writeOptions(spark, local).isEmpty)
      assert(Sink.fs(spark, new Path(local)) eq new Path(local).getFileSystem(conf))
    } finally conf.set("fs.defaultFS", defaultFs)
  }

  test("runResumable output: every bucket committed with .crc sidecars and umask-default bits") {
    val out = Files.createTempDirectory("graft_sink_tree").resolve("out")
    val buckets = 64
    val done = ExtractJob.runResumable(spark,
      TranscriptGen.turns(spark, 16000, seed = 42, partitions = 2), out.toString, buckets = buckets)
    assert(done == (0 until buckets).toSet)

    val umask = FsPermission.getUMask(conf)
    val dirBits = FsPermission.getDirDefault.applyUMask(umask).toString
    val fileBits = FsPermission.getFileDefault.applyUMask(umask).toString
    val entries = Files.walk(out).iterator().asScala.toSeq
    entries.foreach { e =>
      assert(bits(e) == (if (Files.isDirectory(e)) dirBits else fileBits), e.toString)
    }
    val bucketDirs = entries.filter(e => Files.isDirectory(e) && e.getFileName.toString.startsWith("bucket="))
    assert(bucketDirs.size == buckets)
    bucketDirs.foreach { d =>
      val names = Files.list(d).iterator().asScala.map(_.getFileName.toString).toSet
      val parquet = names.filter(_.endsWith(".parquet"))
      assert(names("_COMMITTED"), d.toString)
      assert(parquet.nonEmpty, d.toString)
      assert(parquet.forall(f => names(s".$f.crc")), s"$d: $names")
    }
  }
}
