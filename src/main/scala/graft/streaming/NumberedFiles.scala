package graft.streaming

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, Path}

/** Files named `<prefix><n>` that are committed by EXCLUSIVE rename and
  * never replaced — the commit protocol of [[RawStore]]'s manifests and
  * last-batch markers, [[Rollup]]'s snapshot pointers and
  * [[graft.ops.IvfIndex]]'s metadata. A reader takes the highest number its
  * listing shows; a writer that loses the race to a number fails instead
  * of overwriting. Replacing one fixed name is not an alternative: an
  * OVERWRITE rename on the local filesystem is a delete plus a rename,
  * and a reader inside that gap finds no file at all.
  */
private[graft] object NumberedFiles {

  /** The checksum-free view of a local filesystem — numbered files are
    * written and read through it so no .crc sidecar can race their
    * atomic rename (non-local filesystems pass through unchanged).
    */
  def rawFs(fs: FileSystem): FileSystem = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  /** The numbers `n` of the files `<prefix><n>` directly under `root`
    * (none if `root` does not exist).
    */
  def list(fs: FileSystem, root: Path, prefix: String): Seq[Long] =
    numbers(names(fs, root), prefix)

  /** The entry names directly under `root` (none if it does not exist):
    * one listing a caller can pass to [[numbers]] for several prefixes.
    */
  def names(fs: FileSystem, root: Path): Seq[String] =
    try fs.listStatus(root).toSeq.map(_.getPath.getName)
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  def numbers(names: Seq[String], prefix: String): Seq[Long] =
    names.filter(_.startsWith(prefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix).toLong).toOption)

  /** Commit `bytes` as `<prefix><n>` under `root`, then delete the files
    * numbered `n - keep` and below. The files kept behind the newest only
    * tolerate a reader's gap between listing the names and reading or
    * stat-ing one (a local listing stats each name it read): it takes
    * `keep` commits landing inside that gap to strand the reader.
    * Throws ConcurrentModificationException
    * carrying `conflict` if `<prefix><n>` already exists, i.e. if a
    * concurrent writer took `n` first. Written through the raw
    * (checksum-free) filesystem: a .crc sidecar would follow the rename
    * as a second step, and a checksummed reader could pair the new file
    * with a missing or stale sidecar.
    */
  def commit(fs: FileSystem, root: Path, prefix: String, n: Long,
             bytes: Array[Byte], keep: Int = 8)(conflict: => String): Unit = {
    val raw = rawFs(fs)
    val tmp = new Path(root, s".${prefix}tmp")
    val out = raw.create(tmp, true)
    try out.write(bytes) finally out.close()
    try {
      // rename WITHOUT Rename.OVERWRITE: fails iff the target exists
      FileContext.getFileContext(root.toUri, fs.getConf)
        .rename(tmp, new Path(root, s"$prefix$n"))
    } catch {
      case e: FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(s"$conflict: $e")
    }
    list(raw, root, prefix).filter(_ <= n - keep)
      .foreach(old => raw.delete(new Path(root, s"$prefix$old"), false))
  }
}
