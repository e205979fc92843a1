package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Streaming checkpoint manager that writes local checkpoint files over
  * `java.nio`: no `.crc` sibling and no forked `chmod`, which cost Spark's
  * default manager (`FileContextBasedCheckpointFileManager` over Hadoop's
  * `ChecksumFs`) ~30 ms per metadata write when no native Hadoop library
  * is loaded. Spark's `CheckpointFileManager.RenameBasedFSDataOutputStream`
  * (inherited `createAtomic`) still drives the write through this class's
  * `RenameHelperMethods`, so temp naming (`.<name>.<uuid>.tmp`, skipped by
  * the metadata logs' filters) and `cancel` stay Spark's.
  *
  * Only paths whose filesystem is Hadoop's local one take the fast path;
  * every other path goes to the default manager unchanged. Durability
  * equals the default's over `LocalFileSystem`: neither calls `fsync`.
  */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  private lazy val raw = FileSystem.getLocal(hadoopConf).getRaw

  /** `p` as a `java.nio` path when its filesystem is the local one. */
  private def local(p: Path): Option[java.nio.file.Path] = p.getFileSystem(hadoopConf) match {
    case fs @ (_: LocalFileSystem | _: RawLocalFileSystem) => Some(Paths.get(fs.makeQualified(p).toUri))
    case _                                                 => None
  }

  /** The `.crc` sibling Hadoop's checksummed filesystem keeps for `f`. */
  private def crc(f: java.nio.file.Path) = f.resolveSibling(s".${f.getFileName}.crc")

  override def createTempFile(p: Path): FSDataOutputStream = local(p) match {
    case Some(f) =>
      Files.createDirectories(f.getParent)
      new FSDataOutputStream(new BufferedOutputStream(new FileOutputStream(f.toFile)), null)
    case None => super.createTempFile(p)
  }

  /** Moves the temp file into place atomically. Without overwrite, a hard
    * link refuses an existing target atomically; the refusal deletes the
    * temp file and throws Hadoop's `FileAlreadyExistsException`, which
    * `HDFSMetadataLog` reports as concurrent queries on one checkpoint.
    * A stale `.crc` beside the target (of a replaced file, or of one
    * deleted without it) goes too, so the default manager can still read
    * the new file.
    */
  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    (local(src), local(dst)) match {
      case (Some(s), Some(d)) if overwriteIfPossible =>
        Files.deleteIfExists(crc(d))
        Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
      case (Some(s), Some(d)) =>
        try Files.createLink(d, s)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            Files.deleteIfExists(s)
            throw new FileAlreadyExistsException(s"$dst already exists")
        }
        Files.deleteIfExists(crc(d))
        Files.delete(s)
      case _ => super.renameTempFile(src, dst, overwriteIfPossible)
    }

  override def mkdirs(p: Path): Unit = local(p) match {
    case Some(f) => Files.createDirectories(f)
    case None    => super.mkdirs(p)
  }

  /** Reads local files raw: a stale `.crc` is never checked. */
  override def open(p: Path): FSDataInputStream =
    if (local(p).isDefined) raw.open(p) else super.open(p)
}

object LocalCheckpointFileManager {

  private val Key = "spark.sql.streaming.checkpointFileManagerClass"

  /** Makes this class `spark`'s checkpoint manager, for every later query
    * of the session, unless the key is set in the session or the Hadoop
    * conf. `Pipeline.scoreDocs` and `StreamOps` call it on a stream.
    */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(Key).isEmpty && spark.sparkContext.hadoopConfiguration.get(Key) == null)
      spark.conf.set(Key, classOf[LocalCheckpointFileManager].getName)
}
