package graft

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FSDataInputStream,
  FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Options,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** [[NioRawLocalFileSystem]] against Hadoop's stock raw local
  * filesystem on the same files, its two checksummed wrappers, and
  * their wiring into sessions built by [[GraftSession]]. */
class NioLocalFsSpec extends SparkSpec {
  private val local = new URI("file:///")
  private def conf = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", "022")
    c
  }
  private def init[F <: FileSystem](fs: F): F = { fs.initialize(local, conf); fs }
  private lazy val nio = init(new NioRawLocalFileSystem)
  private lazy val raw = init(new RawLocalFileSystem)

  private def withDir[T](f: JPath => T): T = {
    val d = Fs.fastTempDir("graft_niofs")
    try f(d) finally Fs.deleteRecursively(d)
  }
  private def write(p: JPath, s: String): JPath = Files.write(p, s.getBytes(UTF_8))
  private def hp(p: JPath) = new Path(p.toString)

  /** Every field a status reports, the symlink target when it has one. */
  private def fields(st: FileStatus) =
    (st.getLen, st.isDirectory, st.isSymlink, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
      st.getGroup, st.getPath, if (st.isSymlink) Some(st.getSymlink) else None)

  test("file and directory statuses match the stock raw filesystem field for field") {
    withDir { d =>
      val file = write(d.resolve("a.txt"), "hello")
      val empty = write(d.resolve("empty"), "")
      val sub = Files.createDirectories(d.resolve("sub/deeper"))
      Files.setPosixFilePermissions(empty, PosixFilePermissions.fromString("rw-------"))
      Files.setPosixFilePermissions(sub, PosixFilePermissions.fromString("rwxr-x---"))
      for (p <- Seq(file, empty, sub, sub.getParent, d); path <- Seq(hp(p), hp(p).makeQualified(local, null))) {
        assert(fields(nio.getFileStatus(path)) === fields(raw.getFileStatus(path)), path)
        assert(fields(nio.getFileLinkStatus(path)) === fields(raw.getFileLinkStatus(path)), path)
      }
      // directories report File.length(), not 0
      assert(nio.getFileStatus(hp(sub)).getLen === sub.toFile.length)
      val listed = Seq(nio, raw).map(_.listStatus(hp(d)).map(fields).sortBy(_._11.toString).toSeq)
      assert(listed(0) === listed(1))
    }
  }

  test("a symlink's link status reports the link and its target; its status follows it") {
    withDir { d =>
      val target = write(d.resolve("target.txt"), "twelve bytes")
      val link = Files.createSymbolicLink(d.resolve("link"), target.getFileName)
      val dangling = Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
      for (p <- Seq(link, dangling)) {
        val st = nio.getFileLinkStatus(hp(p))
        assert(st.isSymlink && !st.isDirectory)
        assert(fields(st) === fields(raw.getFileLinkStatus(hp(p))), p)
      }
      assert(nio.getFileLinkStatus(hp(link)).getSymlink === hp(target).makeQualified(local, null))
      val followed = nio.getFileStatus(hp(link))
      assert(!followed.isSymlink && followed.getLen === 12L)
      assert(fields(followed) === fields(raw.getFileStatus(hp(link))))
      Seq(nio, raw).foreach(fs => intercept[FileNotFoundException](fs.getFileStatus(hp(dangling))))
    }
  }

  test("a missing path and a path under a regular file raise FileNotFoundException") {
    withDir { d =>
      val file = write(d.resolve("plain"), "x")
      for (p <- Seq(d.resolve("missing"), file.resolve("child")); fs <- Seq(nio, raw)) {
        intercept[FileNotFoundException](fs.getFileStatus(hp(p)))
        intercept[FileNotFoundException](fs.getFileLinkStatus(hp(p)))
      }
    }
  }

  test("create under umask 022 gives 0644, mkdirs 0755, and a sticky bit still takes") {
    withDir { d =>
      for ((fs, tag) <- Seq(init(new NioLocalFileSystem) -> "nio", init(new LocalFileSystem) -> "stock")) {
        val f = hp(d.resolve(s"$tag/made.txt"))
        fs.create(f).close()
        assert(fs.getFileStatus(f).getPermission === new FsPermission("644"), tag)
        assert(fs.getFileStatus(f.getParent).getPermission === new FsPermission("755"), tag)
        assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(f.toString)))
          === "rw-r--r--", tag)
      }
      val sticky = hp(Files.createDirectory(d.resolve("sticky")))
      nio.setPermission(sticky, new FsPermission("1777"))
      assert(raw.getFileStatus(sticky).getPermission === new FsPermission("1777"))
      assert(fields(nio.getFileStatus(sticky)) === fields(raw.getFileStatus(sticky)))
    }
  }

  private def nioContext = FileContext.getFileContext(new NioLocalFs(local, conf), conf)
  private def stockContext = FileContext.getLocalFSFileContext(conf)
  private def create(fc: FileContext, p: Path, s: String): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }
  private def read(fc: FileContext, p: Path): String = {
    val in = fc.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("FileContext rename refuses an existing target without OVERWRITE and replaces it with") {
    withDir { d =>
      for ((fc, tag) <- Seq(nioContext -> "nio", stockContext -> "stock")) {
        val (src, dst) = (hp(d.resolve(s"$tag.src")), hp(d.resolve(s"$tag.dst")))
        create(fc, src, "new"); create(fc, dst, "old")
        intercept[FileAlreadyExistsException](fc.rename(src, dst))
        assert(read(fc, dst) === "old", tag)
        fc.rename(src, dst, Options.Rename.OVERWRITE)
        assert(read(fc, dst) === "new" && !fc.util.exists(src), tag)
      }
    }
  }

  /** A checksum failure on read makes LocalFileSystem move the file
    * into a `bad_files` dir at the top of its device; these readers
    * only raise. */
  private class Quiet(raw: RawLocalFileSystem) extends LocalFileSystem(raw) {
    override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
        sums: FSDataInputStream, sumsPos: Long): Boolean = false
  }

  test("the .crc sidecar is written and a flipped data byte fails the read") {
    withDir { d =>
      // FileContext writes the sidecar; its reads do not verify, stock or not
      for ((fc, tag) <- Seq(nioContext -> "nio", stockContext -> "stock")) {
        create(fc, hp(d.resolve(s"$tag.ctx")), "payload")
        assert(Files.isRegularFile(d.resolve(s".$tag.ctx.crc")), tag)
      }
      for ((fs, tag) <- Seq(new Quiet(new NioRawLocalFileSystem) -> "nio",
          new Quiet(new RawLocalFileSystem) -> "stock")) {
        init(fs)
        val p = d.resolve(s"$tag.bin")
        val out = fs.create(hp(p))
        try out.write("checksummed payload".getBytes(UTF_8)) finally out.close()
        assert(Files.isRegularFile(d.resolve(s".$tag.bin.crc")), tag)
        val f = new RandomAccessFile(p.toFile, "rw")
        try { f.seek(3); val b = f.read(); f.seek(3); f.write(b ^ 1) } finally f.close()
        withClue(tag) {
          intercept[ChecksumException] {
            val in = fs.open(hp(p))
            try in.readAllBytes() finally in.close()
          }
        }
      }
    }
  }

  test("the shared session and a newSession child resolve file:// to graft's filesystems") {
    // the context's conf, and the per-session copy Spark's checkpoint
    // manager and file sources receive
    for (s <- Seq(spark, spark.newSession());
        hc <- Seq(s.sparkContext.hadoopConfiguration, s.sessionState.newHadoopConf())) {
      assert(FileSystem.get(local, hc).getClass === classOf[NioLocalFileSystem])
      assert(FileContext.getFileContext(local, hc).getDefaultFileSystem.getClass
        === classOf[NioLocalFs])
    }
  }

  test("100 FileContext create+renames take under a fifth of the stock time") {
    withDir { d =>
      def loop(fc: FileContext, tag: String, n: Int): Long = {
        val t0 = System.nanoTime()
        for (i <- 0 until n) {
          val tmp = hp(d.resolve(s".$tag.$i.tmp"))
          create(fc, tmp, s"batch $i")
          fc.rename(tmp, hp(d.resolve(s"$tag.$i")), Options.Rename.OVERWRITE)
        }
        System.nanoTime() - t0
      }
      val (graft, stock) = (nioContext, stockContext)
      loop(graft, "warm_nio", 10); loop(stock, "warm_stock", 10)
      val nioNs = loop(graft, "nio", 100)
      val stockNs = loop(stock, "stock", 100)
      info(f"graft ${nioNs / 1e6}%.0f ms, stock ${stockNs / 1e6}%.0f ms")
      assert(nioNs * 5 < stockNs, s"nio ${nioNs / 1e6} ms vs stock ${stockNs / 1e6} ms")
    }
  }

  test("the fs.*.file.impl keys are set only in GraftSession.scala") {
    val key = "fs\\.(AbstractFileSystem\\.)?file\\.impl".r
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap { dir =>
      val root = Paths.get(dir)
      assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
      val walk = Files.walk(root)
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "GraftSession.scala")
        .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if key.findFirstIn(line).isDefined => s"$p:${i + 1}"
        }).toList
      finally walk.close()
    }
    assert(offenders.isEmpty, s"local filesystem keys outside GraftSession: ${offenders.mkString(", ")}")
  }
}
