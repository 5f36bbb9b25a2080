package graft.sources

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}

/** How a metadata file is published and read on a store — the only code
  * that knows. Every commit point of the manifest lake and the IVF index
  * (lake manifests, IVF generation claims, the `_pq`/`_sq8`/`_tomb`/
  * `_lstats` sidecar markers) publishes through [[putIfAbsent]]; the
  * replaceable files (lake checkpoints, constraint and bloom-index
  * properties, IVF `_lakesync` marks) through [[replace]].
  *
  * CONTENT FIRST: both writes put the whole content into a dot-named tmp
  * file in the target's own directory before the target name exists, so
  * a reader never sees a partial file and a write that fails publishes
  * nothing. The design follows Delta Lake's `LogStore` (Armbrust et al.,
  * "Delta Lake: High-Performance ACID Table Storage over Cloud Object
  * Stores", VLDB 2020): one put-if-absent primitive per store, and a
  * store without a known-atomic one fails loudly instead of racing. */
object MetaFiles {

  /** Publish `bytes` at `path` iff nothing is there: true = this call
    * created it, false = the target already exists (a lost race). Every
    * other failure propagates — an I/O error is never a lost race. The
    * tmp is deleted on every path (won, lost or error). The claim is
    * atomic per store:
    *  - a local filesystem links the tmp to the target: link(2) fails
    *    EEXIST atomically (Hadoop's local rename silently REPLACES an
    *    existing destination, so it cannot claim);
    *  - HDFS renames without overwrite, which fails when the destination
    *    exists (the FileSystem contract); a false rename is a lost race
    *    only if the destination now exists;
    *  - any other store fails at its first claim, naming its scheme:
    *    check-then-rename is not atomic on object stores. */
  def putIfAbsent(fs: FileSystem, path: Path, bytes: Array[Byte]): Boolean = {
    val link = fs match {
      case _: LocalFileSystem | _: RawLocalFileSystem => true
      case _ if fs.getUri.getScheme == "hdfs" => false
      case _ => throw new UnsupportedOperationException(
        s"no atomic put-if-absent for scheme '${fs.getUri.getScheme}' " +
          s"(claiming $path): metadata commits need a local filesystem " +
          "or HDFS")
    }
    withTmp(fs, path, bytes) { tmp =>
      if (link)
        try {
          java.nio.file.Files.createLink(localPath(fs, path), localPath(fs, tmp))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      else fs.rename(tmp, path) || {
        if (fs.exists(path)) false
        else throw new java.io.IOException(
          s"rename of $tmp to $path failed and $path does not exist")
      }
    }
  }

  /** Write `bytes` at `path`, replacing any previous content in one
    * atomic rename: a reader sees the old content or the new, never a
    * missing or partial file. */
  def replace(fs: FileSystem, path: Path, bytes: Array[Byte]): Unit =
    withTmp(fs, path, bytes) { tmp =>
      org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
        .rename(fs.makeQualified(tmp), fs.makeQualified(path),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }

  /** The file's content as UTF-8 text; None when it does not exist. */
  def readText(fs: FileSystem, path: Path): Option[String] =
    try {
      val in = fs.open(path)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  private def withTmp[T](fs: FileSystem, path: Path, bytes: Array[Byte])(
      publish: Path => T): T = {
    val tmp = new Path(path.getParent,
      s".tmp-${java.util.UUID.randomUUID().toString.take(12)}-${path.getName}")
    try {
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      publish(tmp)
    } finally fs.delete(tmp, false)
  }

  private def localPath(fs: FileSystem, p: Path): java.nio.file.Path =
    java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath)
}
