package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** The lake's small metadata files — manifests, segment and partition
  * sidecars, quality reports — written and read through the Hadoop
  * FileSystem of the table they describe. Never java.nio: a java.nio
  * write lands on the local disk of whichever JVM runs it, so for any
  * `hdfs://` or `file://`-qualified root the file is missing where
  * readers look (or the write throws after the data already landed).
  */
private[sources] object SmallFiles {

  /** `content` as UTF-8 into a fresh file at `p`, replacing a leftover. */
  def write(hfs: FileSystem, p: Path, content: String): Unit = {
    val out = hfs.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Atomic publish: write a dot-tmp sibling, rename it into place.
    * Rename of one file is atomic on HDFS and local filesystems; see
    * [[VersionedTable]] for the object-store variant. HDFS will not
    * rename onto an existing file, so `replace` deletes the old one and
    * renames again, for files a rewrite refreshes. A reader sees the
    * old file, the new one or (replace only, on HDFS) none — never a
    * half-written one. For files with ONE writer; the contended
    * manifest slot is a CAS instead ([[VersionedTable]]'s claimSlot).
    */
  def publish(hfs: FileSystem, dest: Path, content: String,
              replace: Boolean = false): Unit = {
    val tmp = new Path(dest.getParent, s".${dest.getName}.tmp")
    write(hfs, tmp, content)
    if (hfs.rename(tmp, dest)) return
    if (replace) {
      hfs.delete(dest, false)
      if (hfs.rename(tmp, dest)) return
    }
    hfs.delete(tmp, false)
    throw new java.io.IOException(s"publish $tmp -> $dest failed")
  }

  /** The whole file at `p`, decoded as UTF-8. */
  def read(hfs: FileSystem, p: Path): String = {
    val in = hfs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Runs `f` on an UNCACHED FileSystem for `p` with checksum twins
    * off, closed afterwards. Sidecars are plain JSON a human may
    * hand-edit: a local `.crc` twin would turn any out-of-band edit
    * into a ChecksumException on the next read. Uncached, because
    * checksums-off must not leak into the JVM-wide instance that
    * `FileSystem.get` shares.
    */
  def withPlainFs[A](p: Path, conf: Configuration)(f: FileSystem => A): A = {
    val hfs = FileSystem.newInstance(p.toUri, conf)
    hfs.setWriteChecksum(false)
    try f(hfs) finally hfs.close()
  }
}
