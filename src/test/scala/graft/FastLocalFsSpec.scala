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
  * applies, for every permission the engine's writers ever pass.
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
    def roundTrip(impl: Option[String], tag: String): (Boolean, Boolean) = {
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
      // open(f, bufferSize): ChecksumFs verifies on that path (FilterFs's
      // open(f) reads the raw file, in stock LocalFs as well)
      val in = fc.open(f, 4096)
      val detected =
        try { in.readFully(new Array[Byte](payload.length)); false }
        catch { case _: org.apache.hadoop.fs.ChecksumException => true }
        finally in.close()
      (crc, detected)
    }
    val stock = roundTrip(None, "stock")
    assert(stock === ((true, true)), "stock LocalFs no longer checksums — the reference moved")
    assert(roundTrip(Some(classOf[FastLocalFs].getName), "fast") === stock)
  }
}
