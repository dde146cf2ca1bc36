package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, ChecksumFileSystem, CreateFlag,
  FileContext, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.sources.{CheckedLocalAbstractFs, CheckedLocalFs, LocalFs}

/** The engine's fork-free `file://` filesystem (graft.sources.LocalFs):
  * installed by build.sbt's javaOptions, same permissions, symlinks and
  * checksums as Hadoop's stock local filesystem, and no process spawned
  * from `org.apache.hadoop.fs` on the engine's local write paths.
  */
class LocalFsSpec extends SparkSpec {

  private val root = URI.create("file:///")
  private def conf = spark.sessionState.newHadoopConf()
  private def fs: LocalFileSystem = FileSystem.get(root, conf).asInstanceOf[LocalFileSystem]
  private def fc: FileContext = FileContext.getFileContext(root, conf)
  private def tmp(): java.nio.file.Path = Files.createTempDirectory("graft_localfs")
  private def octal(mode: String): FsPermission = new FsPermission(Integer.parseInt(mode, 8).toShort)
  private def perms(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  test("file:// resolves to the engine's classes in the test session") {
    assert(fs.getClass == classOf[CheckedLocalFs])
    assert(fs.getRaw.getClass == classOf[LocalFs])
    assert(AbstractFileSystem.get(root, conf).getClass == classOf[CheckedLocalAbstractFs])
    assert(LocalFs.resolved(spark) ==
      s"${classOf[CheckedLocalFs].getName},${classOf[CheckedLocalAbstractFs].getName}")
  }

  test("created files and dirs read back 0644 / 0755 through NIO, umask applied") {
    val umask = FsPermission.getUMask(conf)
    val file = FsPermission.getFileDefault.applyUMask(umask).toString
    val dir = FsPermission.getDirDefault.applyUMask(umask).toString
    assert(file == "rw-r--r--" && dir == "rwxr-xr-x", s"umask ${umask.toString}")
    val d = tmp()
    // FileSystem side: mkdirs, create, and the .crc written beside it
    val out = fs.create(new Path(s"$d/fs/sub/a.bin"))
    out.write(1)
    out.close()
    assert(perms(s"$d/fs") == dir && perms(s"$d/fs/sub") == dir)
    assert(perms(s"$d/fs/sub/a.bin") == file && perms(s"$d/fs/sub/.a.bin.crc") == file)
    assert(fs.getFileStatus(new Path(s"$d/fs/sub/a.bin")).getPermission.toString == file)
    // FileContext side (checkpoints, state stores)
    fc.mkdir(new Path(s"$d/fc/sub"), FsPermission.getDirDefault, true)
    val out2 = fc.create(new Path(s"$d/fc/sub/b.bin"),
      java.util.EnumSet.of(CreateFlag.CREATE))
    out2.write(2)
    out2.close()
    assert(perms(s"$d/fc") == dir && perms(s"$d/fc/sub") == dir)
    assert(perms(s"$d/fc/sub/b.bin") == file && perms(s"$d/fc/sub/.b.bin.crc") == file)
    // an explicit mode lands bit for bit; the sticky bit goes to the
    // stock chmod path and still lands
    for ((mode, want) <- Seq("640" -> "rw-r-----", "572" -> "r-xrwx-w-", "317" -> "-wx--xrwx")) {
      fs.setPermission(new Path(s"$d/fs/sub/a.bin"), octal(mode))
      assert(perms(s"$d/fs/sub/a.bin") == want, mode)
    }
    fs.setPermission(new Path(s"$d/fs/sub"), octal("1777"))
    val dirMode = Files.getAttribute(Paths.get(s"$d/fs/sub"), "unix:mode").asInstanceOf[Int]
    assert(f"${dirMode & 0xfff}%o" == "1777")
  }

  test("getFileLinkStatus reports a real symlink with a qualified target") {
    val d = tmp()
    val target = Files.writeString(d.resolve("target.txt"), "x")
    val link = Files.createSymbolicLink(d.resolve("link"), target)
    for (st <- Seq(fs.getFileLinkStatus(new Path(link.toString)),
                   fs.getRaw.getFileLinkStatus(new Path(link.toString)))) {
      assert(st.isSymlink)
      assert(st.getSymlink.toUri.getScheme == "file")
      assert(st.getSymlink.toUri.getPath == target.toString)
    }
    assert(fc.getFileLinkStatus(new Path(link.toString)).isSymlink)
    // a plain file is not a link, and a missing path is still an error
    assert(!fs.getRaw.getFileLinkStatus(new Path(target.toString)).isSymlink)
    assert(fs.getRaw.getFileLinkStatus(new Path(target.toString)).getLen == 1L)
    intercept[java.io.FileNotFoundException](fs.getRaw.getFileLinkStatus(new Path(s"$d/none")))
  }

  test(".crc files are written and a corrupted byte fails the checksum on read") {
    val d = tmp()
    val payload = Array.tabulate[Byte](4096)(_.toByte)
    def corrupt(p: String): Unit = {
      val raf = new java.io.RandomAccessFile(p, "rw")
      try { raf.seek(1000); raf.write(payload(1000) ^ 0xff) } finally raf.close()
    }
    def readAll(in: java.io.InputStream): Unit =
      try new java.io.DataInputStream(in).readFully(new Array[Byte](payload.length))
      finally in.close()
    // FileSystem side. The corrupt read goes through a plain
    // ChecksumFileSystem over the same raw class: LocalFileSystem's own
    // failure hook would move the file to a bad_files dir at the top of
    // the mount.
    val f = new Path(s"$d/fs.bin")
    val out = fs.create(f)
    out.write(payload)
    out.close()
    assert(Files.size(Paths.get(s"$d/.fs.bin.crc")) > 0L)
    readAll(fs.open(f))
    corrupt(s"$d/fs.bin")
    val checked = new ChecksumFileSystem(fs.getRaw) {}
    intercept[ChecksumException](readAll(checked.open(f)))
    // FileContext side. Only the sized open verifies: FilterFs.open(Path)
    // skips ChecksumFs, on Hadoop's stock LocalFs as well
    val g = new Path(s"$d/fc.bin")
    val out2 = fc.create(g, java.util.EnumSet.of(CreateFlag.CREATE))
    out2.write(payload)
    out2.close()
    assert(Files.size(Paths.get(s"$d/.fc.bin.crc")) > 0L)
    readAll(fc.open(g, 4096))
    corrupt(s"$d/fc.bin")
    intercept[ChecksumException](readAll(fc.open(g, 4096)))
  }

  /** `jdk.ProcessStart` events recorded while `body` runs, with stacks. */
  private def spawnsDuring(body: => Unit): Seq[RecordedEvent] = {
    // Hadoop's Shell probes `setsid` once in its static initializer;
    // load it first so that one-time spawn is not charged to `body`
    Class.forName("org.apache.hadoop.util.Shell")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val dump = Files.createTempFile("graft_spawns", ".jfr")
    try {
      rec.start()
      body
      rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  private def fromHadoopFs(e: RecordedEvent): Boolean =
    Option(e.getStackTrace).exists(_.getFrames.asScala
      .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.fs.")))

  private def describe(es: Seq[RecordedEvent]): String =
    es.take(3).map(e => e.getString("command") + " at " +
      e.getStackTrace.getFrames.asScala.take(12).map(_.getMethod.getName).mkString(" < "))
      .mkString("\n")

  test("the spawn guard sees a stock Hadoop chmod") {
    assume(!org.apache.hadoop.io.nativeio.NativeIO.isAvailable,
      "with the Hadoop native library the stock chmod does not fork")
    val d = tmp()
    val stock = new RawLocalFileSystem()
    stock.initialize(root, conf)
    val spawns = spawnsDuring {
      stock.setPermission(new Path(d.toString), octal("755"))
    }
    assert(spawns.exists(fromHadoopFs), s"recorded ${spawns.size} spawns")
  }

  test("no spawn from org.apache.hadoop.fs: parquet write+read, spill, restarted stream") {
    import spark.implicits._
    val d = tmp()
    val spawns = spawnsDuring {
      spark.range(2000).select(col("id"), (col("id") % 7).as("k"))
        .write.mode("overwrite").parquet(s"$d/table")
      assert(spark.read.parquet(s"$d/table").count() == 2000L)
      val spilled = graft.operators.Materialize.spillRelease(
        spark.read.parquet(s"$d/table").groupBy("k").count())
      assert(spilled.count() == 7L)
      // two AvailableNow runs on one checkpoint: offsets, commits and
      // state-store deltas written, then restored from disk
      val ckpt = s"$d/stream/ckpt"
      val sink = s"$d/stream/out"
      val schema = Seq((1L, 1L)).toDF("u", "v").schema
      def agg = spark.readStream.schema(schema).parquet(s"$d/stream/input")
        .groupBy("u").agg(count(lit(1)).as("n"))
      graft.queries.Curation50.addBatchFile(
        Seq((1L, 1L), (1L, 2L), (2L, 3L)).toDF("u", "v"), s"$d/stream", "01.parquet", 2)
      graft.queries.Curation50.runRestartable(agg, ckpt, sink, "update")
      graft.queries.Curation50.addBatchFile(
        Seq((1L, 4L)).toDF("u", "v"), s"$d/stream", "02.parquet", 1)
      graft.queries.Curation50.runRestartable(agg, ckpt, sink, "update")
      val n = graft.queries.Curation50.readSink(spark, sink)
        .agg(max(when(col("u") === 1L, col("n")))).head().getLong(0)
      assert(n == 3L, "the restarted run must continue from the restored state")
    }
    val bad = spawns.filter(fromHadoopFs)
    assert(bad.isEmpty, s"${bad.size} of ${spawns.size} spawns came from org.apache.hadoop.fs:\n" +
      describe(bad))
  }
}
