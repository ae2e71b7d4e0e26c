package graft.io

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The metadata side of a store: which Hadoop `FileSystem` a path's
  * exists/list/rename/delete calls go to, and the one way a Spark write is
  * published under a name of the caller's choosing. */
private[graft] object StoreFs {

  /** `path`'s file system under `spark`'s Hadoop conf, so a store on any
    * Hadoop URI gets the same treatment as a local one. A checksummed file
    * system (the local one) is unwrapped to its raw one: Spark's writers keep
    * their `.crc` siblings inside the directories they write, and a part
    * file renamed, or a text file written, through the raw file system
    * brings none into the published layout. */
  def of(path: Path, spark: SparkSession): FileSystem =
    path.getFileSystem(spark.sessionState.newHadoopConf()) match {
      case checksummed: ChecksumFileSystem => checksummed.getRawFileSystem
      case fs => fs
    }

  /** Writes into a fresh hidden temp directory under `dir`, renames each
    * (source, target) pair `picks` selects from it into place, replacing the
    * target, and deletes the temp. Each write completes before any target
    * is touched. An existing target is first renamed to its [[aside]], and
    * deleted only once its replacement is in place, so at every instant one
    * of the two holds a whole table; a failed rename puts the old one back
    * at once, and [[recover]] does so after a crash. Returns the targets. */
  def publish(fs: FileSystem, dir: Path)(write: Path => Unit)
             (picks: Path => Seq[(Path, Path)]): Seq[Path] = {
    // dot-prefixed: hidden from Spark's file listings and the file streams
    val tmp = new Path(dir, s".__tmp_${java.util.UUID.randomUUID()}__")
    try {
      write(tmp)
      picks(tmp).map { case (src, target) =>
        recover(fs, target)
        val old = aside(target)
        if (fs.exists(target)) rename(fs, target, old)
        try rename(fs, src, target)
        catch { case e: Throwable => recover(fs, target); throw e }
        fs.delete(old, true)
        target
      }
    } finally fs.delete(tmp, true)
  }

  /** The hidden sibling `target` is moved to while [[publish]] renames its
    * replacement in. */
  def aside(target: Path): Path = new Path(target.getParent, s".${target.getName}.__old__")

  /** Finishes a swap that [[publish]] did not: a target that is absent while
    * its aside exists was moved aside and never replaced, so the aside goes
    * back; an aside beside a present target is one whose delete never ran. */
  def recover(fs: FileSystem, target: Path): Unit = {
    val old = aside(target)
    if (fs.exists(old)) {
      if (fs.exists(target)) fs.delete(old, true) else rename(fs, old, target)
    }
  }

  private def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"could not rename $src to $dst")

  /** [[publish]] for a single-partition write: its one part file becomes
    * `target`. */
  def publishFile(fs: FileSystem, target: Path)(write: Path => Unit): Unit =
    publish(fs, target.getParent)(write)(tmp => Seq(partFile(fs, tmp) -> target))

  /** The part file of a single-partition Spark write into `dir`. */
  def partFile(fs: FileSystem, dir: Path): Path =
    fs.listStatus(dir).map(_.getPath).find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file under $dir"))

  /** (value, directory) of each `col=value` directory of a `partitionBy`
    * write into `dir`. */
  def partitions(fs: FileSystem, dir: Path, col: String): Seq[(String, Path)] =
    fs.listStatus(dir).toSeq.map(_.getPath).filter(_.getName.startsWith(s"$col="))
      .map(p => p.getName.stripPrefix(s"$col=") -> p)
}
