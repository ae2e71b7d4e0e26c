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
    * is removed. Returns the targets. */
  def publish(fs: FileSystem, dir: Path)(write: Path => Unit)
             (picks: Path => Seq[(Path, Path)]): Seq[Path] = {
    // dot-prefixed: hidden from Spark's file listings and the file streams
    val tmp = new Path(dir, s".__tmp_${java.util.UUID.randomUUID()}__")
    try {
      write(tmp)
      picks(tmp).map { case (src, target) =>
        fs.delete(target, true)
        if (!fs.rename(src, target))
          throw new java.io.IOException(s"could not rename $src to $target")
        target
      }
    } finally fs.delete(tmp, true)
  }

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
