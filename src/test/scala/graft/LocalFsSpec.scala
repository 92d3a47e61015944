package graft

import java.net.URI
import java.nio.file.{Files, Path => NioPath, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LoopPar
import graft.sources.{GraftLocalFileSystem, GraftLocalFs}

/** Graft sessions write the local filesystem without forking `chmod`
  * or `readlink`. Without the native Hadoop library, Hadoop's local
  * filesystem starts a `chmod` child process for every file, checksum
  * file and directory it creates, and with or without it a `readlink`
  * process for every link-status lookup (`FileContext.rename` makes
  * two); `GraftSession` swaps in `GraftLocalFileSystem` (Spark's
  * file-source writes) and `GraftLocalFs` (`FileContext`: streaming
  * checkpoints and state stores), which set the same modes by syscall
  * and answer a path that is no link without a process.
  */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("local-fs-spec")

  import LocalFsSpec._

  /** 108 (p, y, m) partitions of 4 rows each, in one task. */
  private def partitioned: DataFrame = spark.range(0, 432, 1, 1)
    .selectExpr("id % 3 AS p", "id div 3 % 3 AS y", "id div 9 % 12 AS m", "id AS v")

  test("a 108-partition write from one task starts no chmod process") {
    val dir = Files.createTempDirectory("localfs-write").toString
    val forks = LocalFsSpec.forks(dir, "chmod") {
      partitioned.coalesce(1).write.partitionBy("p", "y", "m").parquet(s"$dir/graft")
    }
    assert(new java.io.File(s"$dir/graft/p=2/y=2/m=11").isDirectory)
    assert(forks.isEmpty, s"${forks.size} chmod processes, first: ${forks.headOption}")
    // the probe sees the forks Hadoop's own local filesystem makes here
    if (!NativeIO.isAvailable) {
      val stock = LocalFsSpec.forks(dir, "chmod") {
        partitioned.coalesce(1).write.options(localFsImpl(classOf[org.apache.hadoop.fs.LocalFileSystem], "022"))
          .partitionBy("p", "y", "m").parquet(s"$dir/stock")
      }
      assert(stock.size >= 108, s"Hadoop's filesystem forked ${stock.size} chmod processes")
    }
  }

  test("partitioned writes get the modes Hadoop's own local filesystem gives, per umask") {
    val dir = Files.createTempDirectory("localfs-modes")
    for (umask <- Seq("022", "027")) {
      def write(impl: Class[_ <: FileSystem], out: String): Map[String, Int] = {
        partitioned.write.options(localFsImpl(impl, umask))
          .partitionBy("p", "y", "m").parquet(dir.resolve(out).toString)
        modes(dir.resolve(out))
      }
      val graft = write(classOf[GraftLocalFileSystem], s"graft$umask")
      val stock = write(classOf[org.apache.hadoop.fs.LocalFileSystem], s"stock$umask")
      assert(graft.size > 108 * 3 && graft == stock, s"umask $umask")
      val (file, dirMode) = if (umask == "022") (0x1a4, 0x1ed) else (0x1a0, 0x1e8) // 0644/0755, 0640/0750
      assert(graft.values.toSet == Set(file, dirMode), s"umask $umask: ${graft.values.toSet.map(Integer.toOctalString)}")
    }
  }

  test("setPermission sets each mode; a sticky bit and a set-id directory keep chmod's result") {
    val fs = FileSystem.newInstance(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    try {
      val dir = Files.createTempDirectory("localfs-perm")
      val f = dir.resolve("f")
      Files.write(f, Array[Byte](1))
      for (m <- Seq("600", "640", "700", "755", "777")) {
        fs.setPermission(new Path(f.toUri), new FsPermission(m))
        assert(Integer.toOctalString(mode(f)) == m)
      }
      val d = Files.createDirectory(dir.resolve("d"))
      fs.setPermission(new Path(d.toUri), new FsPermission("1777"))
      assert(Integer.toOctalString(mode(d)) == "1777")
      // `chmod 0755` keeps a directory's set-group-id bit
      val s = Files.createDirectory(dir.resolve("s"))
      assume(new ProcessBuilder("chmod", "2775", s.toString).start().waitFor() == 0)
      fs.setPermission(new Path(s.toUri), new FsPermission("755"))
      assert(Integer.toOctalString(mode(s)) == "2755")
    } finally fs.close()
  }

  test("the session's local filesystem and FileContext are graft's") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.newInstance(new URI("file:///"), conf)
    try assert(fs.getClass == classOf[GraftLocalFileSystem]) finally fs.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(new URI("file:///"), conf)
    assert(fc.getDefaultFileSystem.getClass == classOf[GraftLocalFs])
  }

  test("a 3-micro-batch stateful stream checkpoints without forking chmod") {
    val dir = Files.createTempDirectory("localfs-stream")
    val in = Files.createDirectories(dir.resolve("in"))
    for (i <- 0 until 3)
      Files.write(in.resolve(s"part-$i.json"), (0 until 10).map(j => s"""{"k":${(i + j) % 4}}""").asJava)
    val forks = LocalFsSpec.forks(dir.toString, "chmod", "readlink") {
      LoopPar.withConf(spark, "spark.sql.shuffle.partitions" -> "4") {
        val q = spark.readStream.schema("k INT").option("maxFilesPerTrigger", "1")
          .json(in.toString).groupBy("k").count()
          .writeStream.format("memory").queryName("localfs_counts").outputMode("complete")
          .option("checkpointLocation", dir.resolve("cp").toString)
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        assert(q.recentProgress.count(_.numInputRows > 0) == 3)
      }
    }
    assert(spark.table("localfs_counts").orderBy("k").collect().map(_.getLong(1)).toSeq == Seq(7, 8, 8, 7))
    assert(forks.isEmpty, s"${forks.size} chmod or readlink processes, first: ${forks.headOption}")
  }

  test("link status: a plain path answers without readlink, a symlink still reports its target") {
    val dir = Files.createTempDirectory("localfs-link")
    val target = Files.write(dir.resolve("target"), Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.newInstance(new URI("file:///"), conf)
    val fc = FileContext.getFileContext(new URI("file:///"), conf)
    try {
      val forks = LocalFsSpec.forks(dir.toString, "readlink") {
        for (p <- Seq(new Path(target.toString), new Path(target.toUri))) {
          for (st <- Seq(fs.getFileLinkStatus(p), fc.getFileLinkStatus(p)))
            assert(!st.isSymlink && st.isFile && st.getLen == 3L, s"$p: $st")
        }
        intercept[java.io.FileNotFoundException](fs.getFileLinkStatus(new Path(dir.resolve("none").toUri)))
      }
      assert(forks.isEmpty, s"${forks.size} readlink processes, first: ${forks.headOption}")
      val p = new Path(link.toString)
      for (st <- Seq(fs.getFileLinkStatus(p), fc.getFileLinkStatus(p))) {
        assert(st.isSymlink, s"$p: $st")
        assert(Paths.get(st.getSymlink.toUri.getPath) == target, s"$p: $st")
      }
    } finally fs.close()
  }
}

object LocalFsSpec {
  /** Command lines of the processes running any of `commands` that this
    * JVM starts in `body` and that name a path under `under`, from a JFR
    * `jdk.ProcessStart` recording. */
  def forks(under: String, commands: String*)(body: => Unit): Seq[String] = {
    val rec = new Recording()
    val file = Files.createTempFile("process-start", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
        .filter(c => commands.exists(p => c.startsWith(p + " ")) && c.contains(under))
    } finally { rec.close(); Files.delete(file) }
  }

  /** Write options that route one write through a fresh `impl` instance under `umask`. */
  def localFsImpl(impl: Class[_ <: FileSystem], umask: String): Map[String, String] = Map(
    "fs.file.impl" -> impl.getName, "fs.file.impl.disable.cache" -> "true",
    "fs.permissions.umask-mode" -> umask)

  def mode(p: NioPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Mode of every file and directory under `root`, keyed by its relative
    * path with the write's job id blanked out. */
  def modes(root: NioPath): Map[String, Int] = {
    val s = Files.walk(root)
    try s.iterator.asScala.map(p => Uuid.replaceAllIn(root.relativize(p).toString, "*") -> mode(p)).toMap
    finally s.close()
  }
}
