package graft.sources

import java.io.IOException
import java.nio.file.attribute.{GroupPrincipal, PosixFilePermission, UserPrincipal}
import java.nio.file.attribute.PosixFilePermission._
import java.nio.file.{Files, LinkOption, NoSuchFileException}

import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** `file://` filesystem whose `setPermission` and status reads are
  * java.nio syscalls instead of Hadoop's fork+exec `chmod` / `ls -ld`
  * fallbacks.
  *
  * Without libhadoop (NativeIO), stock `RawLocalFileSystem` shells out
  * `chmod 0755 <path>` for EVERY directory it creates and file it
  * commits (`RawLocalFileSystem.setPermission` → `Shell.execCommand`).
  * On the conversion path that is ~3 forks per written part file
  * (file + .crc sidecar + partition dir): a measured 34,092 process
  * launches in 23 s of the 24-way per-file conversion fleet (JFR
  * `jdk.ProcessStart`, r20) — each fork duplicating the page tables of
  * a multi-GB JVM and serializing on the kernel, the dominant term of
  * `wod_convert`'s wall-clock and the reason it tracked "IO noise" so
  * strongly round-over-round. A cluster deploy never sees this
  * (libhadoop present, or the data path is HDFS/S3); this class gives
  * the local deploy the same no-fork behavior through public Hadoop
  * API, with identical on-disk results (same permission bits).
  *
  * Reads fork too: a stock status loads its permission, owner and
  * group by running `ls -ld <path>` on first use, and every
  * `listFiles` caller asks for them, because `LocatedFileStatus` copies
  * them. One `query_mix` bench run (seed 7) recorded 400 process starts
  * (JFR `jdk.ProcessStart`), all from the `wod` scan's file listing.
  * `listStatus` and `getFileStatus` here return [[NioFileStatus]],
  * which reads the same three values lazily through one `java.nio`
  * attribute read, and a caller that never asks pays nothing. Listing
  * 200 files in a 3-level tree took 1,123 ms stock and 7.7 ms this way
  * (4-core host; a re-run of 5 listings: 1.46–1.84 s stock, 7.7–18 ms).
  *
  * Wired via `spark.hadoop.fs.file.impl` in [[graft.GraftSession]].
  * Semantics parity: the 9 posix bits are applied exactly; sticky/
  * setuid bits (never used by Spark's write paths) fall back to the
  * stock shell path rather than being silently dropped. Status reads
  * keep the stock listing (`FileNotFoundException`, symlinks resolved
  * as before) and fall back to the stock `ls -ld` load where `java.nio`
  * cannot read the attributes.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def listStatus(p: Path): Array[FileStatus] =
    super.listStatus(p).map(nio)

  override def getFileStatus(p: Path): FileStatus = nio(super.getFileStatus(p))

  /** Wraps a stock status; a symlink's status, and one `listStatus`
    * already took from `getFileStatus`, pass as they are.
    */
  private def nio(st: FileStatus): FileStatus = st match {
    case _: NioFileStatus => st
    case _ if st.isSymlink => st
    case _ => new NioFileStatus(st, pathToFile(st.getPath))
  }

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val special = (permission.toShort & 0xfe00) != 0
    if (special) super.setPermission(p, permission)
    else {
      val bits = permission.toShort.toInt
      val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      def add(bit: Int, perm: PosixFilePermission): Unit =
        if ((bits & bit) != 0) { set.add(perm); () }
      add(0x100, OWNER_READ); add(0x80, OWNER_WRITE); add(0x40, OWNER_EXECUTE)
      add(0x20, GROUP_READ); add(0x10, GROUP_WRITE); add(0x8, GROUP_EXECUTE)
      add(0x4, OTHERS_READ); add(0x2, OTHERS_WRITE); add(0x1, OTHERS_EXECUTE)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, set)
      catch {
        case e: NoSuchFileException =>
          // stock chmod surfaces a missing target as an IOException too
          throw new java.io.FileNotFoundException(
            s"setPermission target does not exist: $p (${e.getMessage})")
      }
    }
  }
}

/** A local file's status whose permission, owner and group load on
  * first use, as stock `ls -ld` reports them: the link itself for a
  * symlink (no follow), the 9 posix bits plus the sticky bit, and the
  * owner and group names. `stock` is the status Hadoop built (its
  * fields are copied here unchanged); where `java.nio` cannot read the
  * attributes, its own forking load answers instead.
  */
private final class NioFileStatus(@transient stock: FileStatus,
    @transient file: java.io.File)
    extends FileStatus(stock.getLen, stock.isDirectory, stock.getReplication,
      stock.getBlockSize, stock.getModificationTime, stock.getAccessTime,
      null, null, null, null, stock.getPath) {

  @transient private var loaded = false

  private def load(): Unit = synchronized {
    if (!loaded) {
      try {
        val a = Files.readAttributes(file.toPath, "unix:mode,owner,group",
          LinkOption.NOFOLLOW_LINKS)
        setPermission(new FsPermission(
          (a.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
        setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
        setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
      } catch {
        case _: IOException | _: UnsupportedOperationException =>
          setPermission(stock.getPermission)
          setOwner(stock.getOwner)
          setGroup(stock.getGroup)
      }
      loaded = true
    }
  }

  override def getPermission: FsPermission = { load(); super.getPermission }
  override def getOwner: String = { load(); super.getOwner }
  override def getGroup: String = { load(); super.getGroup }

  /** Java serialization ships a plain, fully loaded status. */
  private def writeReplace(): AnyRef = new FileStatus(this)
}

/** The checksummed `file://` wrapper over [[NioRawLocalFileSystem]] —
  * drop-in for `org.apache.hadoop.fs.LocalFileSystem`.
  *
  * Write-side `.crc` sidecars are OFF (reads still verify any
  * existing sidecar): every parquet file the engine writes already
  * carries parquet's own page-level checksums
  * (`parquet.page.write-checksum.enabled`, on by default), so the
  * sidecar is a redundant second checksum that costs one extra
  * create+write+rename per part file and a CRC pass over every byte —
  * measured 16% of the partitioned store write after the fork fix
  * (WodWriteMicro r20: 1.07 → 0.90 s/store). Cluster deploys (HDFS /
  * S3) never had client-side sidecars on the data path.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def initialize(uri: java.net.URI,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(uri, conf)
    setWriteChecksum(false)
  }
}
