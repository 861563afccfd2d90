package graft.engine

import java.net.{URLDecoder, URLEncoder}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Driver-side commit log: the commit point behind [[ParquetManifestIO]]
  * (validate units), SURVEY.md §7.1's commit-last contract. It stands in
  * for an Iceberg manifest (no Iceberg runtime jar exists here,
  * BASELINE.md). [[writeAtomic]] also writes the split and run
  * descriptors of [[ParquetManifestIO]] and [[ParquetStageIO]].
  *
  * Layout: one entry file `dir/<url-encoded id>.commit` of `key=value`
  * lines per committed id; an id is committed iff its entry exists. Every
  * write goes to a unique `<target>.<uuid>.tmp` sibling, is forced to
  * disk, then atomically renamed into place, so a crash leaves the old
  * state or the new one, never a torn file; a stray `.tmp` is never an
  * entry. A crash before the directory itself is flushed can at worst
  * lose an entry, which re-runs that id (outputs are idempotent
  * overwrites). Reads are `java.nio` calls on the driver, no Spark job.
  */
final class CommitLog(val dir: Path) {
  import CommitLog._

  private[graft] def entryPath(id: String): Path =
    dir.resolve(URLEncoder.encode(id, UTF_8) + Suffix)

  /** Every committed id. */
  def ids(): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else Using.resource(Files.list(dir))(_.iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(Suffix))
      .map(n => URLDecoder.decode(n.dropRight(Suffix.length), UTF_8)).toSet)

  /** Commit point: atomically record `id` with `fields`, replacing any
    * earlier entry. Safe for different ids from concurrent threads. */
  def commit(id: String, fields: Seq[(String, String)]): Unit = {
    fields.foreach { case (k, v) =>
      require(k.nonEmpty && !k.exists("=\n".contains(_)) && !v.contains('\n'),
        s"commit log field '$k' needs a key without '=' or newline and a one-line value")
    }
    writeAtomic(entryPath(id), fields.map { case (k, v) => s"$k=$v\n" }.mkString)
  }
}

object CommitLog {
  private val Suffix = ".commit"

  /** The log of a checkpoint directory. */
  def in(root: String): CommitLog = new CommitLog(Paths.get(root, "_commits"))

  /** A fresh temp sibling of `target`, as [[writeAtomic]] names it. */
  private[graft] def tempPath(target: Path): Path =
    target.resolveSibling(s"${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")

  /** Write `text` to `path` via a forced temp file and an atomic rename. */
  def writeAtomic(path: Path, text: String): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = tempPath(path)
    Using.resource(FileChannel.open(tmp, StandardOpenOption.CREATE_NEW,
        StandardOpenOption.WRITE)) { ch =>
      val buf = ByteBuffer.wrap(text.getBytes(UTF_8))
      while (buf.hasRemaining) ch.write(buf)
      ch.force(true)
    }
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The contents of `path`, if it exists. */
  def read(path: Path): Option[String] =
    if (Files.exists(path)) Some(Files.readString(path)) else None
}
