package graft.pipeline

import java.nio.file.{Files, Paths, Path => JPath}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The processes the JVM starts while a block runs: a `SecurityManager`
  * whose `checkExec` sees every `ProcessBuilder.start` and which permits
  * everything else. The previous manager is restored afterwards.
  * Launches from two background threads are not counted, as they are
  * not the block's work: the JDK's GC-driven `Cleaner-N` threads (Spark's
  * `ArtifactManager` removes a collected session's files with `rm -rf`
  * there) and Spark's `executor-heartbeater` (its first metrics poll
  * runs `getconf PAGESIZE`). */
object ProcessLaunches {
  private val Background = Seq("Cleaner-", "executor-heartbeater")

  def during[A](body: => A): (A, Seq[String]) = {
    val launched = new ConcurrentLinkedQueue[String]()
    val prev = System.getSecurityManager
    System.setSecurityManager(new SecurityManager {
      override def checkExec(cmd: String): Unit = {
        val thread = Thread.currentThread.getName
        if (!Background.exists(thread.startsWith)) launched.add(s"$cmd ($thread)")
      }
      override def checkPermission(perm: java.security.Permission): Unit = ()
      override def checkPermission(perm: java.security.Permission, context: AnyRef): Unit = ()
    })
    val result = try body finally System.setSecurityManager(prev)
    (result, launched.asScala.toSeq)
  }
}

/** A `file:` table commit starts no process, and the files and
  * directories it creates carry the modes and `.crc` sidecars a stock
  * `LocalFileSystem` gives them. */
class NioLocalFileSystemSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def conf = spark.sparkContext.hadoopConfiguration
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  private def id(i: Int): String = f"doc-$i%08d"
  private def octal(s: String): Int = Integer.parseInt(s, 8)

  /** Updates of docs 0..9 plus one new doc. */
  private def updates: Dataset[Doc] = {
    import spark.implicits._
    (Seq.tabulate(10)(i => Doc(id(i), Seq(Span("text", s"updated $i", null, 0)))) :+
      Doc("doc-99999999", Seq(Span("text", "brand new", null, 0)))).toDS()
  }

  /** writeDocs, then mergeDocs of [[updates]]: the table's docs by id. */
  private def writeAndMerge(p: String): Map[String, Doc] = {
    val docs = DocGen.docs(spark, 60, seed = 3L, partitions = 4)
    TableIO.writeDocs(docs, p, buckets = 8)
    TableIO.mergeDocs(updates, p, buckets = 8)
    (docs.collect() ++ updates.collect()).map(d => d.doc_id -> d).toMap
  }

  test("no child process on the commit path: writeDocs + mergeDocs + vacuum of an 8-bucket file: table") {
    val base = Files.createTempDirectory("graft-io-nofork")
    // warm-up outside the count: class loading and one-time set-up of
    // Hadoop and Spark may start processes of their own
    writeAndMerge(s"$base/warm")
    val (reclaimed, launched) = ProcessLaunches.during {
      writeAndMerge(s"$base/t")
      TableIO.vacuum(s"$base/t")
    }
    assert(reclaimed.nonEmpty, "the merge left no superseded file to vacuum")
    assert(launched.isEmpty, s"${launched.size} processes started: ${launched.distinct}")
  }

  test("permission and sidecar parity with a stock LocalFileSystem; readDocs returns every row") {
    val base = Files.createTempDirectory("graft-io-modes")
    val stock = new LocalFileSystem()
    stock.initialize(java.net.URI.create("file:///"), conf)
    val probeDir = new Path(s"$base/probe/dir")
    val probeFile = new Path(s"$base/probe/file")
    assert(stock.mkdirs(probeDir))
    stock.create(probeFile).close()
    val dirMode = mode(Paths.get(s"$base/probe/dir"))
    val fileMode = mode(Paths.get(s"$base/probe/file"))
    val crcMode = mode(Paths.get(s"$base/probe/.file.crc"))

    val p = s"$base/t"
    val expected = writeAndMerge(p)
    val all = Files.walk(Paths.get(p))
    val paths = try all.iterator.asScala.toList finally all.close()
    val (dirs, files) = paths.partition(Files.isDirectory(_))
    val (crcs, plain) = files.partition { f =>
      val n = f.getFileName.toString
      n.startsWith(".") && n.endsWith(".crc")
    }
    val names = plain.map(_.getFileName.toString)
    assert(names.count(_.startsWith("part-")) >= 8 &&
      names.count(_.startsWith("bucket-")) == 8 &&
      names.count(_.startsWith("_snapshot-")) == 2 &&
      names.contains("_SUCCESS"), names)
    for (d <- dirs) assert(mode(d) == dirMode, f"$d: ${mode(d)}%o, stock ${dirMode}%o")
    for (f <- plain) {
      assert(mode(f) == fileMode, f"$f: ${mode(f)}%o, stock ${fileMode}%o")
      assert(crcs.contains(f.resolveSibling(s".${f.getFileName}.crc")), s"$f has no .crc")
    }
    for (c <- crcs) assert(mode(c) == crcMode, f"$c: ${mode(c)}%o, stock ${crcMode}%o")

    val got = TableIO.readDocs(spark, p).collect()
    assert(got.length == expected.size)
    assert(got.map(d => d.doc_id -> d).toMap == expected)
  }

  test("setPermission: rwx bits without a process, a sticky bit through Hadoop's own path") {
    val base = Files.createTempDirectory("graft-io-chmod")
    val fs = new NioLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), conf)
    val dir = new Path(s"$base/d")
    assert(fs.mkdirs(dir))
    def chmod(m: String): Seq[String] =
      ProcessLaunches.during(fs.setPermission(dir, new FsPermission(octal(m).toShort)))._2
    val plain = chmod("750")
    assert(plain.isEmpty, plain)
    assert(mode(Paths.get(s"$base/d")) == octal("750"))
    val sticky = chmod("1755")
    if (!NativeIO.isAvailable) assert(sticky.nonEmpty, "a sticky bit did not take Hadoop's chmod path")
    assert(mode(Paths.get(s"$base/d")) == octal("1755"))
  }

  test("under a setgid parent: the modes a stock LocalFileSystem gives (chmod keeps a directory's setgid bit)") {
    val base = Files.createTempDirectory("graft-io-setgid")
    Files.setAttribute(base, "unix:mode", mode(base) | octal("2000"))
    assert((mode(base) & octal("2000")) != 0, "the parent did not take the setgid bit")
    /** Modes of `name`, `name/dir` and `name/file` created through `fs`. */
    def create(fs: LocalFileSystem, name: String): Seq[Int] = {
      fs.initialize(java.net.URI.create("file:///"), conf)
      assert(fs.mkdirs(new Path(s"$base/$name/dir")))
      fs.create(new Path(s"$base/$name/file")).close()
      Seq(name, s"$name/dir", s"$name/file").map(q => mode(Paths.get(s"$base/$q")))
    }
    val stock = create(new LocalFileSystem(), "stock")
    val nio = create(new NioLocalFileSystem, "nio")
    assert(nio == stock, s"${nio.map(_.toOctalString)}, stock ${stock.map(_.toOctalString)}")
  }
}
