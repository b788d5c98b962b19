package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FastLocalFileSystem, FastLocalFs}

/** The fork-free local filesystem must be BEHAVIORALLY IDENTICAL to
  * RawLocalFileSystem where it overrides it: setPermission applies the
  * same nine POSIX bits the parent's (process-forking) chmod path
  * applies, for every permission the engine's writers ever pass, and
  * getFileLinkStatus answers as the parent's (readlink-forking) probe.
  * Anything less would silently change what lands on disk the moment
  * a session installs `fs.file.impl`.
  */
class FastLocalFsSpec extends AnyFunSuite {

  private def newFs(): FastLocalFileSystem = {
    val fs = new FastLocalFileSystem
    fs.initialize(new java.net.URI("file:///"), new Configuration())
    fs
  }

  private def posixOf(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  test("setPermission: bit-for-bit parity with RawLocalFileSystem across the bit space") {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_io/spec/fastfs"
    Files.createDirectories(Paths.get(dir))
    val fast = newFs()
    val raw = new RawLocalFileSystem
    raw.initialize(new java.net.URI("file:///"), new Configuration())
    // every permission shape the engine/committers use, plus asymmetric
    // group/other patterns that Hadoop's java.io.File fallback can't even
    // express (the exact reason its exec path forks)
    val cases = Seq(0x1A4, 0x180, 0x1ED, 0x1FF, 0x1A0, 0x1B4, 0x124, 0x000)
    cases.foreach { bits =>
      val fp = s"$dir/fast_$bits"
      val rp = s"$dir/raw_$bits"
      Files.deleteIfExists(Paths.get(fp)); Files.deleteIfExists(Paths.get(rp))
      Files.createFile(Paths.get(fp)); Files.createFile(Paths.get(rp))
      fast.setPermission(new Path(fp), new FsPermission(bits.toShort))
      raw.setPermission(new Path(rp), new FsPermission(bits.toShort))
      assert(posixOf(fp) === posixOf(rp), s"bits=0${bits.toOctalString}")
    }
    // restore writability so later suite runs can clean the dir
    cases.foreach { bits =>
      Seq(s"$dir/fast_$bits", s"$dir/raw_$bits").foreach { p =>
        Files.setPosixFilePermissions(Paths.get(p),
          PosixFilePermissions.fromString("rw-r--r--"))
      }
    }
  }

  test("setPermission on a missing path raises FileNotFound, like the parent") {
    val fast = newFs()
    intercept[java.io.FileNotFoundException] {
      fast.setPermission(
        new Path(s"${sys.props("java.io.tmpdir")}/graft_io/spec/fastfs/nope_${System.nanoTime()}"),
        new FsPermission(0x1A4.toShort))
    }
  }

  test("create/mkdirs/rename/list round-trip through the FileSystem API") {
    val fast = newFs()
    val root = new Path(s"${sys.props("java.io.tmpdir")}/graft_io/spec/fastfs_rt")
    fast.delete(root, true)
    fast.mkdirs(new Path(root, "sub"))
    val f = new Path(root, "sub/a.bin")
    val out = fast.create(f, true)
    out.write(Array[Byte](1, 2, 3)); out.close()
    assert(fast.getFileStatus(f).getLen === 3)
    val g = new Path(root, "sub/b.bin")
    assert(fast.rename(f, g))
    assert(fast.listStatus(new Path(root, "sub")).map(_.getPath.getName).toSeq === Seq("b.bin"))
    val in = fast.open(g)
    val buf = new Array[Byte](3); in.readFully(0, buf); in.close()
    assert(buf.toSeq === Seq[Byte](1, 2, 3))
  }

  test("FileContext binding (fs.AbstractFileSystem.file.impl) resolves and writes") {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", classOf[FastLocalFs].getName)
    val fc = FileContext.getFileContext(new java.net.URI("file:///"), conf)
    val dir = new Path(s"${sys.props("java.io.tmpdir")}/graft_io/spec/fastfs_fc")
    fc.delete(dir, true)
    fc.mkdir(dir, FsPermission.getDirDefault, true)
    val f = new Path(dir, "log")
    val out = fc.create(f, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
    out.write(42); out.close()
    assert(fc.getFileStatus(f).getLen === 1)
  }

  test("FileContext binding checksums like stock LocalFs: .crc sidecar, corruption detected") {
    val root = s"${sys.props("java.io.tmpdir")}/graft_io/spec/fastfs_crc"
    val payload = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    // the same write and read through the fast binding and through
    // Hadoop's stock LocalFs (the default file: binding)
    def roundTrip(impl: Option[String], tag: String): (Boolean, Boolean, Boolean) = {
      val conf = new Configuration()
      impl.foreach(conf.set("fs.AbstractFileSystem.file.impl", _))
      val fc = FileContext.getFileContext(new java.net.URI("file:///"), conf)
      val dir = new Path(s"$root/$tag")
      fc.delete(dir, true)
      fc.mkdir(dir, FsPermission.getDirDefault, true)
      val f = new Path(dir, "data.bin")
      val out = fc.create(f, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      out.write(payload); out.close()
      val crc = Files.exists(Paths.get(s"$root/$tag/.data.bin.crc"))
      // flip one byte in the data file, behind the filesystem's back
      val raw = Paths.get(s"$root/$tag/data.bin")
      val bytes = Files.readAllBytes(raw)
      bytes(100) = (bytes(100) ^ 0xFF).toByte
      Files.write(raw, bytes)
      def detected(in: org.apache.hadoop.fs.FSDataInputStream): Boolean =
        try { in.readFully(new Array[Byte](payload.length)); false }
        catch { case _: org.apache.hadoop.fs.ChecksumException => true }
        finally in.close()
      // open(f, bufferSize) verifies in stock ChecksumFs; open(f) — what
      // Spark's checkpoint file manager calls — reads the raw file there
      (crc, detected(fc.open(f, 4096)), detected(fc.open(f)))
    }
    val stock = roundTrip(None, "stock")
    assert((stock._1, stock._2) === ((true, true)),
      "stock LocalFs no longer checksums — the reference moved")
    assert(roundTrip(Some(classOf[FastLocalFs].getName), "fast") === ((true, true, true)))
  }

  test("getFileLinkStatus: parity with RawLocalFileSystem for file, dir, symlink, missing path") {
    val root = Paths.get(s"${sys.props("java.io.tmpdir")}/graft_io/spec/fastfs_link")
    val fast = newFs().getRawFileSystem
    val raw = new RawLocalFileSystem
    raw.initialize(new java.net.URI("file:///"), new Configuration())
    fast.delete(new Path(root.toString), true)
    Files.createDirectories(root.resolve("dir"))
    Files.write(root.resolve("file"), Array[Byte](1, 2, 3))
    Files.createSymbolicLink(root.resolve("link"), root.resolve("file"))
    Seq("file", "dir", "link").foreach { n =>
      val p = new Path(root.resolve(n).toString)
      val (a, b) = (fast.getFileLinkStatus(p), raw.getFileLinkStatus(p))
      assert((a.getPath, a.isFile, a.isDirectory, a.isSymlink, a.getLen,
          a.getModificationTime) ===
        ((b.getPath, b.isFile, b.isDirectory, b.isSymlink, b.getLen,
          b.getModificationTime)), n)
      if (b.isSymlink) assert(a.getSymlink === b.getSymlink)
    }
    assert(fast.getFileLinkStatus(new Path(root.resolve("link").toString)).isSymlink)
    val missing = new Path(root.resolve("nope").toString)
    intercept[java.io.FileNotFoundException](raw.getFileLinkStatus(missing))
    intercept[java.io.FileNotFoundException](fast.getFileLinkStatus(missing))
  }

  test("FileContext rename without overwrite still refuses an existing version dir") {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", classOf[FastLocalFs].getName)
    val fc = FileContext.getFileContext(new java.net.URI("file:///"), conf)
    val root = new Path(s"${sys.props("java.io.tmpdir")}/graft_io/spec/fastfs_rename")
    fc.delete(root, true)
    val (src, dst) = (new Path(root, "tmp"), new Path(root, "_versions/3"))
    fc.mkdir(src, FsPermission.getDirDefault, true)
    fc.mkdir(dst, FsPermission.getDirDefault, true)
    fc.create(new Path(dst, "part-0"),
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE)).close()
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      fc.rename(src, dst, org.apache.hadoop.fs.Options.Rename.NONE)
    }
    assert(fc.util.exists(src) && !fc.util.exists(new Path(dst, "tmp")))
    // onto a free number it goes through
    val free = new Path(root, "_versions/4")
    fc.rename(src, free, org.apache.hadoop.fs.Options.Rename.NONE)
    assert(fc.util.exists(free) && !fc.util.exists(src))
  }
}
