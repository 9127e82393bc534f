package graft

import java.io.{IOException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem, FSDataInputStream, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{NoForkLocalFileSystem, NoForkLocalFs, NoForkRawLocalFileSystem}

/** The `file:` file system that sets permission bits in-process
  * (graft.sources.NoForkRawLocalFileSystem), checked against Hadoop's stock
  * `LocalFileSystem` / `LocalFs` as the reference. */
class LocalFsSpec extends AnyFunSuite {
  import SpotifyFixture.unixMode

  private val fileUri = URI.create("file:///")
  private val modes = Seq("644", "600", "640", "444", "755", "750", "700").map(Integer.parseInt(_, 8))

  /** A default Configuration, or one that names Hadoop's stock classes. */
  private def conf(stock: Boolean): Configuration = {
    val c = new Configuration()
    if (stock) {
      c.set("fs.file.impl", classOf[LocalFileSystem].getName)
      c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    }
    c
  }

  private def hpath(p: JPath) = new Path(p.toUri)

  private def perm(mode: Int) = new FsPermission(mode.toShort)

  /** Relative path -> full mode of everything under root (.crc files included). */
  private def modesUnder(root: JPath): Map[String, Int] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root).map(p => root.relativize(p).toString -> unixMode(p)).toMap
    finally walk.close()
  }

  /** Runs `ops` once with the stock classes and once with the default ones,
    * each under its own dir of root; returns both trees' modes. */
  private def differential(root: JPath)(ops: (FileSystem, FileContext, JPath) => Unit)
      : (Map[String, Int], Map[String, Int]) = {
    val Seq(stock, noFork) = Seq(true, false).map { s =>
      val base = Files.createDirectory(root.resolve(if (s) "stock" else "nofork"))
      val fs = FileSystem.newInstance(fileUri, conf(s))
      val fc = FileContext.getFileContext(fileUri, conf(s))
      assert(fs.getClass == (if (s) classOf[LocalFileSystem] else classOf[NoForkLocalFileSystem]))
      try ops(fs, fc, base) finally fs.close()
      modesUnder(base)
    }
    (stock, noFork)
  }

  test("create, mkdirs and setPermission leave the stock LocalFileSystem's mode bits") {
    val (stock, noFork) = differential(SpotifyFixture.tempDir("graft-localfs-modes")) { (fs, fc, base) =>
      modes.foreach { m =>
        val dir = base.resolve(f"$m%o")
        fs.create(hpath(dir.resolve("fs/new/created")), perm(m), true, 4096, 1.toShort, 1L << 20, null).close()
        assert(fs.mkdirs(hpath(dir.resolve("fs/made")), perm(m)))
        val set = hpath(dir.resolve("fs/set"))
        fs.create(set).close()
        fs.setPermission(set, perm(m))
        val setDir = hpath(dir.resolve("fs/setdir"))
        assert(fs.mkdirs(setDir))
        fs.setPermission(setDir, perm(m))

        fc.create(hpath(dir.resolve("fc/new/created")), EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.perms(perm(m)), Options.CreateOpts.createParent()).close()
        fc.mkdir(hpath(dir.resolve("fc/made")), perm(m), true)
        val fcSet = hpath(dir.resolve("fc/set"))
        fc.create(fcSet, EnumSet.of(CreateFlag.CREATE)).close()
        fc.setPermission(fcSet, perm(m))
      }
    }
    assert(noFork.size == stock.size && noFork.size > modes.size * 10)
    assert(noFork == stock)
    // not vacuous: setPermission applied every mode exactly, on files and dirs
    modes.foreach { m =>
      Seq("fs/set", "fs/setdir", "fc/set").foreach(f => assert((noFork(f"$m%o/$f") & 0x1ff) == m, f))
    }
  }

  test("a sticky-bit mode keeps its sticky bit (stock fallback)") {
    val sticky = Integer.parseInt("1777", 8)
    // (mkdirs with this mode would not reach setPermission with it: Hadoop's
    // umask step drops the sticky bit before that, stock classes included)
    val (stock, noFork) = differential(SpotifyFixture.tempDir("graft-localfs-sticky")) { (fs, fc, base) =>
      assert(fs.mkdirs(hpath(base.resolve("fs"))))
      fs.setPermission(hpath(base.resolve("fs")), perm(sticky))
      fc.mkdir(hpath(base.resolve("fc")), FsPermission.getDirDefault, true)
      fc.setPermission(hpath(base.resolve("fc")), perm(sticky))
    }
    assert(noFork == stock)
    Seq("fs", "fc").foreach(d => assert((noFork(d) & 0xfff) == sticky, d))
  }

  test("a directory's set-group-ID survives mkdirs and setPermission as under chmod") {
    val setgid = 0x400 // 02000
    val (stock, noFork) = differential(SpotifyFixture.tempDir("graft-localfs-setgid")) { (fs, _, base) =>
      Files.setAttribute(base, "unix:mode", Integer.parseInt("2775", 8))
      assert(fs.mkdirs(hpath(base.resolve("made")), perm(Integer.parseInt("750", 8))))
      fs.create(hpath(base.resolve("file"))).close()
      fs.setPermission(hpath(base.resolve("made")), perm(Integer.parseInt("755", 8)))
    }
    assert(noFork == stock)
    assert((noFork("made") & setgid) != 0) // inherited from the parent, kept by the chmod
    assert((noFork("made") & 0x1ff) == Integer.parseInt("755", 8))
  }

  test("every data file gets its .crc sidecar and a flipped byte still fails the read") {
    val dir = SpotifyFixture.tempDir("graft-localfs-crc")
    val bytes = Array.tabulate[Byte](10000)(i => (i * 31).toByte)
    // LocalFileSystem.reportChecksumFailure would move the bad file into a
    // bad_files dir at the top of its mount; keep it in place.
    val fs = new NoForkLocalFileSystem {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
          sums: FSDataInputStream, sumsPos: Long): Boolean = false
    }
    fs.initialize(fileUri, new Configuration())
    def readAll(file: JPath) = {
      val in = fs.open(hpath(file))
      try { val b = new Array[Byte](bytes.length); in.readFully(b); b } finally in.close()
    }
    def corruptAndRead(file: JPath): Unit = {
      assert(Files.exists(file.resolveSibling(s".${file.getFileName}.crc")), file)
      assert(readAll(file).sameElements(bytes))
      val raf = new RandomAccessFile(file.toFile, "rw")
      try { raf.seek(5000); raf.write(bytes(5000) ^ 0xff) } finally raf.close()
      intercept[ChecksumException](readAll(file))
    }

    val viaFs = dir.resolve("fs/data.bin")
    val out = fs.create(hpath(viaFs))
    try out.write(bytes) finally out.close()
    corruptAndRead(viaFs)

    // written through FileContext (the streaming checkpoint logs' path), read
    // through the FileSystem API: the same .crc format, verified on read.
    // (Hadoop 3.4.2's ChecksumFs reader, stock LocalFs included, does not
    // raise on this corruption, so that side has nothing to compare.)
    val fc = FileContext.getFileContext(fileUri, new Configuration())
    val viaFc = dir.resolve("fc/data.bin")
    val fcOut = fc.create(hpath(viaFc), EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
    try fcOut.write(bytes) finally fcOut.close()
    corruptAndRead(viaFc)
  }

  /** What a caller can see of a link-status or link-target call: the
    * status fields, or the exception class and message. */
  private def seen[A](call: => A)(show: A => String): String =
    try show(call) catch { case e: IOException => s"${e.getClass.getName}: ${e.getMessage}" }

  private def statusFacts(st: FileStatus): String =
    s"link=${st.isSymlink} target=${if (st.isSymlink) st.getSymlink else "-"} len=${st.getLen} " +
      s"dir=${st.isDirectory} path=${st.getPath}"

  test("link status and link target match the stock classes through FileSystem and FileContext") {
    val root = SpotifyFixture.tempDir("graft-localfs-links")
    Files.write(root.resolve("file"), Array.fill[Byte](123)(7))
    Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("link"), Paths.get("file"))
    Files.createSymbolicLink(root.resolve("dangling"), Paths.get("nowhere"))
    val names = Seq("file", "dir", "link", "dangling", "missing")
    // Hadoop reads the link at new File(path.toString): a bare path finds
    // it, a file:-qualified one names a relative file and never does
    val forms = Seq[JPath => Path](p => new Path(p.toString), hpath)

    /** (api, name, form) -> what getFileLinkStatus and getLinkTarget show. */
    def facts(stock: Boolean): Map[String, String] = {
      val fs = FileSystem.newInstance(fileUri, conf(stock))
      val fc = FileContext.getFileContext(fileUri, conf(stock))
      val apis = Seq[(String, Path => FileStatus, Path => Path)](
        ("fs", fs.getFileLinkStatus, fs.getLinkTarget),
        ("fc", fc.getFileLinkStatus, fc.getLinkTarget))
      try (for (name <- names; (form, i) <- forms.zipWithIndex; (api, status, target) <- apis) yield {
        val p = form(root.resolve(name))
        s"$api $name form$i" -> s"${seen(status(p))(statusFacts)} | ${seen(target(p))(_.toString)}"
      }).toMap finally fs.close()
    }

    val (stock, noFork) = (facts(stock = true), facts(stock = false))
    assert(noFork.size == names.size * forms.size * 2)
    assert(noFork == stock)
    // not vacuous: the bare form sees both links, a missing path and a non-link
    Seq("fs", "fc").foreach { api =>
      def bare(name: String) = noFork(s"$api $name form0")
      assert(bare("link").startsWith("link=true") && bare("link").endsWith("| file"), bare("link"))
      assert(bare("dangling").startsWith("link=true") && bare("dangling").contains("nowhere len=0"),
        bare("dangling"))
      assert(bare("missing").startsWith("java.io.FileNotFoundException"), bare("missing"))
      assert(bare("file").contains("len=123") && bare("file").endsWith("is not a symbolic link"), bare("file"))
      assert(bare("dir").contains("dir=true"), bare("dir"))
    }
  }

  /** Process starts (JFR `jdk.ProcessStart`) on this thread while a
    * streaming checkpoint log commit runs: a FileContext create of a temp
    * file, then a rename over the existing log file. Returns the started
    * commands. JFR records the whole JVM, and sessions left by other suites
    * in the same test JVM start `rm` on Spark's cleaner thread when
    * collected, so only this thread's starts count. */
  private def processStartsInLogCommit(stock: Boolean): Seq[String] = {
    val dir = SpotifyFixture.tempDir("graft-localfs-commit")
    val fc = FileContext.getFileContext(fileUri, conf(stock))
    val (tmp, log) = (hpath(dir.resolve("log/.0.tmp")), hpath(dir.resolve("log/0")))
    fc.create(log, EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent()).close()
    val recording = new Recording()
    try {
      recording.enable("jdk.ProcessStart")
      recording.start()
      val out = fc.create(tmp, EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
      try out.write("v1\n{}".getBytes) finally out.close()
      fc.rename(tmp, log, Options.Rename.OVERWRITE)
      recording.stop()
      val dump = dir.resolve("starts.jfr")
      recording.dump(dump)
      val self = Thread.currentThread.getId
      RecordingFile.readAllEvents(dump).asScala
        .filter(e => e.getThread != null && e.getThread.getJavaThreadId == self)
        .map(_.getString("command")).toSeq
    } finally recording.close()
  }

  test("a checkpoint log commit through FileContext starts no process") {
    assert(processStartsInLogCommit(stock = false) == Nil)
    // not vacuous: the stock classes fork readlink for the rename's link checks
    assert(processStartsInLogCommit(stock = true).exists(_.startsWith("readlink")))
  }

  test("file: resolves to the no-fork classes under a default Configuration and in the session") {
    val fs = FileSystem.get(fileUri, new Configuration())
    assert(fs.isInstanceOf[NoForkLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NoForkRawLocalFileSystem])
    assert(FileContext.getFileContext(fileUri, new Configuration()).getDefaultFileSystem
      .isInstanceOf[NoForkLocalFs])
    val sessionConf = TestSpark.spark.sparkContext.hadoopConfiguration
    assert(new Path("file:///tmp").getFileSystem(sessionConf).isInstanceOf[NoForkLocalFileSystem])
    assert(FileContext.getFileContext(fileUri, sessionConf).getDefaultFileSystem.isInstanceOf[NoForkLocalFs])
  }
}
