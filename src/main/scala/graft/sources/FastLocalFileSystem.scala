package graft.sources

import java.net.URI
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** [[RawLocalFileSystem]] with the PROCESS FORK removed from every file
  * create / mkdir / chmod, and from the link-status probe of a path that
  * is not a symbolic link.
  *
  * Why this exists (measured, round 21): when `libhadoop.so` is absent —
  * every vanilla `local[*]` deployment, CI box and this sandbox —
  * Hadoop's `RawLocalFileSystem.setPermission` falls back from
  * `NativeIO.POSIX.chmod` to `Shell.execCommand`, i.e. it FORKS a
  * `chmod` child process. `create()` and `mkdirs()` both apply
  * permissions, so EVERY file the engine lands (parquet parts,
  * `_SUCCESS`, manifest parts, version/op markers, commit-lock files,
  * streaming offset/commit logs) costs a fork+exec of a multi-GB JVM:
  * 4.5 ms per create measured against 13 µs of actual I/O — ~350× pure
  * overhead, multiplied by 32 concurrently-forking task threads on
  * write-heavy stages (the measured 8-core-faster-than-32 inversions on
  * the streaming lanes). On a real cluster the problem does not exist:
  * either `libhadoop` is present (native chmod) or storage is
  * HDFS/object-store (no local permission call at all) — so this class
  * makes the local backend behave like production, it does not create a
  * local-only cheat.
  *
  * The override is SEMANTICALLY EXACT, not a no-op: all nine permission
  * bits map onto `java.nio.file.Files.setPosixFilePermissions` (one
  * `fchmodat` syscall). Sticky/setuid bits — which java.nio cannot
  * express — fall back to the parent's exec path rather than silently
  * dropping bits; no caller in this engine or in Spark's local
  * committers ever passes one. FastLocalFsSpec pins the bit-for-bit
  * equivalence against the parent implementation.
  *
  * Install via `spark.hadoop.fs.file.impl` ([[FastLocalFileSystem]],
  * the FileSystem API) and `spark.hadoop.fs.AbstractFileSystem.file.impl`
  * ([[FastLocalFs]], the FileContext side — Spark streaming's
  * checkpoint/offset logs go through FileContext, which ignores
  * `fs.file.impl`).
  */
class FastRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if (permission == null) return
    val bits = permission.toShort.toInt
    // java.nio has no sticky/setuid/setgid representation — delegate the
    // exotic bits to the (forking) parent rather than dropping them
    if ((bits & 0xE00) != 0) { super.setPermission(p, permission); return }
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    import PosixFilePermission._
    if ((bits & 0x100) != 0) perms.add(OWNER_READ)
    if ((bits & 0x080) != 0) perms.add(OWNER_WRITE)
    if ((bits & 0x040) != 0) perms.add(OWNER_EXECUTE)
    if ((bits & 0x020) != 0) perms.add(GROUP_READ)
    if ((bits & 0x010) != 0) perms.add(GROUP_WRITE)
    if ((bits & 0x008) != 0) perms.add(GROUP_EXECUTE)
    if ((bits & 0x004) != 0) perms.add(OTHERS_READ)
    if ((bits & 0x002) != 0) perms.add(OTHERS_WRITE)
    if ((bits & 0x001) != 0) perms.add(OTHERS_EXECUTE)
    try java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    catch {
      case e: java.nio.file.NoSuchFileException =>
        throw new java.io.FileNotFoundException(e.getMessage)
      case _: UnsupportedOperationException =>
        // non-POSIX store (exotic mount) — the parent's exec path still
        // knows how to chmod it
        super.setPermission(p, permission)
    }
  }

  /** The parent runs `readlink` as a child process for EVERY path here
    * (its `libhadoop`-less fallback), and FileContext's rename asks
    * about the source, the target and the target's parent — about three
    * forks per put-if-absent version rename. For a path that is not a
    * symbolic link the parent returns `getFileStatus(f)`, a missing
    * path included (FileNotFoundException); a real link keeps the
    * parent's answer.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (java.nio.file.Files.isSymbolicLink(pathToFile(f).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `fs.file.impl` binding: the stock CHECKSUMMED [[LocalFileSystem]]
  * shell with its raw delegate swapped for the fork-free one. Extending
  * LocalFileSystem (not RawLocalFileSystem) matters: Hadoop's
  * `FileSystem.getLocal` — which Spark's RocksDB state-store uploads
  * and every `copyFromLocalFile` call go through — CASTS the resolved
  * `file:` filesystem to LocalFileSystem, so a raw-typed replacement
  * crashes streaming state checkpoints with a ClassCastException
  * (measured on q103 before this shape). CRC sidecar behavior is
  * exactly stock; the only change is that permission application and
  * link-status probes stop forking.
  */
class FastLocalFileSystem extends LocalFileSystem(new FastRawLocalFileSystem)

/** The raw FileContext side of the fork-free local FS, the counterpart
  * of Hadoop's stock `RawLocalFs` (whose constructors are not public):
  * the AbstractFileSystem API delegated to [[FastRawLocalFileSystem]].
  */
class FastRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new FastRawLocalFileSystem, conf, "file", false) {
  // as RawLocalFs: every name the local filesystem takes is valid
  override def isValidName(src: String): Boolean = true
}

/** FileContext/AbstractFileSystem binding for the fork-free local FS —
  * `fs.AbstractFileSystem.file.impl`. Spark structured streaming's
  * metadata logs (offsets/commits, the per-micro-batch WAL) and
  * FileManifest's put-if-absent version rename resolve the local scheme
  * through FileContext, which has its own impl registry; without this
  * binding every micro-batch's log writes keep forking. The stock shape
  * of `LocalFs` over `RawLocalFs`: the CRC sidecar layer over the raw
  * fast FS, so checksums are written and verified as stock — and also
  * on `open(f)`, where stock LocalFs skips them.
  */
class FastLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new FastRawLocalFs(uri, conf)) {
  // ChecksumFs verifies only in open(f, bufferSize); FilterFs's open(f) —
  // what `FileContext.open(f)` and Spark's checkpoint file manager call —
  // would read the raw file unchecked
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}

object FastLocalFileSystem {
  /** The two session confs that install the fork-free local filesystem.
    * [[graft.Session]] applies them to every session it builds; on
    * deployments where `file:` is not the table store they are inert
    * (the classes only ever serve file: URIs).
    */
  val sparkConfs: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[FastLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[FastLocalFs].getName)

  /** Apply [[sparkConfs]] to a session builder not built by
    * [[graft.Session]] (the benchmark's, which adds its own paths).
    */
  def install(b: org.apache.spark.sql.SparkSession.Builder)
      : org.apache.spark.sql.SparkSession.Builder =
    sparkConfs.foldLeft(b) { case (x, (k, v)) => x.config(k, v) }
}
