package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystems, Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The local (`file:`) file system with permission bits set in-process.
  *
  * Why: without libhadoop (`NativeCodeLoader` warns "Unable to load
  * native-hadoop library" at start), Hadoop 3.4.2's
  * `RawLocalFileSystem.setPermission` runs `Shell.execCommand(chmod …)`,
  * one forked OS process per call. Every local data file, its `.crc`
  * sidecar and every directory created under a mode makes that call:
  * counted over whole benchmark runs, 307 per `Runner.runBatch` pass of
  * the 80-day backfill (274 in executor tasks, 33 on the driver) and 16
  * per streamed day of `StreamingLoader.loadSongs` (6.7 of them through
  * FileContext: checkpoint and sink metadata logs). On a shared 4-core
  * box, 200 `create` calls each writing a 4 KB data file, its `.crc` and
  * a new parent directory took 14.7–20.6 ms per file through the stock
  * `LocalFileSystem` and 0.18–0.70 ms through this one (after one
  * warm-up round of 200); both left the files `rw-r--r--`.
  *
  * `NoForkRawLocalFileSystem.setPermission` sets the nine mode bits with
  * `Files.setPosixFilePermissions` (the same chmod(2) that the `chmod`
  * command ends in) and leaves everything else to Hadoop: checksums,
  * `.crc` files, write layout and commit protocol are the stock code.
  * It defers to the stock (forking) method where that would set more than
  * nine bits or where the in-process call cannot be made:
  *  - `NativeIO.isAvailable`: libhadoop already sets the mode without a fork;
  *  - the mode has the sticky bit, which `PosixFilePermission` cannot express;
  *  - the target is a directory carrying set-user-ID or set-group-ID: a
  *    four-digit `chmod` keeps those on directories, `setPosixFilePermissions`
  *    would clear them;
  *  - the JVM's default file system has no `unix` (hence no `posix`)
  *    attribute view. This is checked once per JVM, not per file store:
  *    both paths reach the same chmod(2), so a mount that rejects one
  *    rejects the other.
  *
  * `src/main/resources/core-site.xml` registers the two checksummed
  * wrappers for `file:`, so every `Configuration` built from the classpath
  * uses them: `NoForkLocalFileSystem` (`fs.file.impl`) for the FileSystem
  * API (parquet and CSV writers, `FileOutputCommitter`, `Archiver`, file
  * listing) and `NoForkLocalFs` (`fs.AbstractFileSystem.file.impl`) for
  * the FileContext API that Spark's streaming checkpoint manager writes its
  * offset, commit and source logs through. A `core-site.xml` earlier on the
  * classpath, or a session-level `fs.file.impl`, restores the stock
  * classes: slower, equally correct.
  *
  * Spark's `CheckpointFileManager.isLocal` tests the FileContext file
  * system for `instanceof LocalFs | RawLocalFs`, so it reads false under
  * `NoForkLocalFs`. In spark-sql 4.1.2 nothing branches on it: the only
  * caller is `ChecksumCheckpointFileManager.isLocal`, which delegates to
  * the manager it wraps (checked with `javap` over every class of the jar).
  * The FileSystem-based manager's `isLocal` tests `LocalFileSystem |
  * RawLocalFileSystem`, which these subclasses satisfy.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  import NoForkRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if (!inProcess || (mode & StickyBit) != 0) super.setPermission(p, permission)
    else {
      val file = pathToFile(p).toPath
      try {
        val current = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
        if ((current & FileType) == Directory && (current & SetIds) != 0)
          super.setPermission(p, permission)
        else // a plain FsPermission prints just the nine bits, e.g. "rw-r--r--"
          Files.setPosixFilePermissions(file,
            PosixFilePermissions.fromString(new FsPermission(mode.toShort).toString))
      } catch {
        case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist")
      }
    }
  }
}

object NoForkRawLocalFileSystem {
  private val StickyBit = 0x200 // 01000
  private val SetIds = 0xc00    // 06000
  private val FileType = 0xf000 // S_IFMT
  private val Directory = 0x4000 // S_IFDIR

  private lazy val inProcess =
    !NativeIO.isAvailable && FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
}

/** `fs.file.impl`: the stock checksummed `LocalFileSystem` over
  * [[NoForkRawLocalFileSystem]]. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** FileContext twin of `org.apache.hadoop.fs.local.RawLocalFs` (whose
  * constructors are package-private) over [[NoForkRawLocalFileSystem]]. */
class NoForkRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the stock `ChecksumFs` over
  * [[NoForkRawLocalFs]], as `org.apache.hadoop.fs.local.LocalFs` is over
  * `RawLocalFs`. */
class NoForkLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NoForkRawLocalFs(uri, conf))
