package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumFs, DelegateToFileSystem, FileStatus,
  FileSystem, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The engine's raw `file://` filesystem: Hadoop's [[RawLocalFileSystem]]
  * with its two shell-outs replaced by NIO calls.
  *
  * Without the Hadoop native library (`NativeIO`), the stock class forks
  * a `chmod` process for every file and directory it creates (and again
  * for the file's `.crc`), and a `readlink` process for every
  * `getFileLinkStatus`, which every FileContext rename asks for twice.
  * Streaming checkpoints and state stores, `Materialize` spills and the
  * bucketed layout all write local files, so a q431 run at sf0.1 forked
  * over a thousand processes at about 4 ms each.
  *
  * Behaviour is unchanged: the same 9 permission bits are set, and a path
  * NIO reports as a symlink still goes through the stock readlink path.
  * The sticky bit and stores without POSIX attributes also go to `super`.
  * Checksums come from the wrappers below, exactly as Hadoop's own
  * `LocalFileSystem` / `LocalFs` wrap the stock raw classes.
  *
  * Installed for every JVM the build launches by two entries in
  * `build.sbt`'s `javaOptions` (see README "Local filesystem"):
  * `spark.hadoop.fs.file.impl` = [[CheckedLocalFs]] and
  * `spark.hadoop.fs.AbstractFileSystem.file.impl` = [[CheckedLocalAbstractFs]].
  */
class LocalFs extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try {
      // the 9 bits the stock chmod sets, spelled rwxr-xr-x
      val bits = new FsPermission((permission.toShort & 0x1ff).toShort).toString
      Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(bits))
      ()
    } catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object LocalFs {
  /** The classes `file://` resolves to in `spark`'s Hadoop configuration,
    * FileSystem side then FileContext side. A JVM launched without the
    * build's `javaOptions` shows Hadoop's stock classes here. */
  def resolved(spark: SparkSession): String = {
    val conf = spark.sessionState.newHadoopConf()
    val uri = URI.create("file:///")
    s"${FileSystem.get(uri, conf).getClass.getName}," +
      s"${AbstractFileSystem.get(uri, conf).getClass.getName}"
  }
}

/** `fs.file.impl`: the checksummed FileSystem over [[LocalFs]]. It extends
  * Hadoop's [[LocalFileSystem]], which callers such as
  * `FileSystem.getLocal` cast to. */
class CheckedLocalFs extends LocalFileSystem(new LocalFs)

/** `fs.AbstractFileSystem.file.impl`: the checksummed FileContext
  * filesystem over [[LocalFs]], which streaming checkpoints and state
  * stores write through. It mirrors Hadoop's `LocalFs` over `RawLocalFs`,
  * whose constructors are package-private. */
class CheckedLocalAbstractFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new RawLocalAbstractFs(uri, conf))

private class RawLocalAbstractFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new LocalFs, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
