package graft

import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}

import scala.util.control.NonFatal

/** The segment-plus-manifest log both durable stores are built on
  * ([[IndexStore]] for the batch standing indexes, [[streaming.FoldStore]]
  * for the streaming legs). Each store owns its on-disk layout, its
  * manifest format and its retention policy; this object owns the
  * mechanism they share, so there is one durability discipline:
  *
  *  - '''Segments''' are immutable directories. [[publish]] writes one
  *    into a `.tmp-` sibling, moves it into place with an atomic rename
  *    and fsyncs the parent, so a visible segment is always complete
  *    (its `_SUCCESS` marker is the proof). A racing publisher of the
  *    same target is resolved by outcome: if a complete segment is there
  *    after a failed rename, the loser discards its identical copy.
  *  - '''Manifests''' are small files that name the live segments and
  *    are the sole truth about what is served. [[writeManifest]] forces
  *    the content of a `.tmp-` sibling to disk, rename-replaces the
  *    target and fsyncs the directory: the full power-loss discipline,
  *    not only process-crash atomicity. [[readManifest]] returns None
  *    for a missing or unparseable (torn) file, so a caller rebuilds or
  *    falls back instead of serving garbage.
  *  - '''Sweeps''': a crash between a segment publish and its manifest
  *    write leaves an unreferenced segment, and an interrupted write
  *    leaves `.tmp-` debris. [[sweep]] deletes both, each past an age the
  *    caller picks (a store that holds a writer lock sweeps at once; one
  *    without a lock keeps a margin for in-flight publishers).
  *
  * On an object store the same shape maps to a multipart upload plus a
  * final marker (segment) and a single-key put (manifest), the two
  * primitives object stores make atomic.
  */
object SegmentLog {

  private def tmpSibling(target: Path): Path =
    target.resolveSibling(
      s".tmp-${target.getFileName}-${ProcessHandle.current.pid}-${System.nanoTime}")

  private def complete(segment: Path): Boolean =
    Files.exists(segment.resolve("_SUCCESS"))

  /** Publish the segment directory `target` unless a complete one already
    * stands there (segments are immutable): `write` fills a fresh temp
    * directory and answers whether it holds anything worth publishing.
    * True when a complete segment now stands at `target`.
    */
  def publish(target: Path)(write: Path => Boolean): Boolean = {
    if (complete(target)) return true
    Files.createDirectories(target.getParent)
    val tmp = tmpSibling(target)
    if (!write(tmp)) { deleteRecursively(tmp); return false }
    try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    catch {
      // the exception type for rename-onto-existing-dir is filesystem-
      // dependent (Linux ENOTEMPTY arrives as a GENERIC FileSystemException,
      // not DirectoryNotEmptyException), so resolve the race by OUTCOME
      case e: java.nio.file.FileSystemException =>
        deleteRecursively(tmp)
        if (!complete(target)) throw e
    }
    fsyncDir(target.getParent)
    true
  }

  /** Durably replace the manifest file `target` with `body`. */
  def writeManifest(target: Path, body: String): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = tmpSibling(target)
    Files.write(tmp, body.getBytes(UTF_8), StandardOpenOption.CREATE_NEW,
      StandardOpenOption.WRITE, StandardOpenOption.DSYNC)
    Files.move(tmp, target,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    fsyncDir(target.getParent)
  }

  /** The parsed manifest at `p`; None when it is missing or `parse`
    * throws on its body (empty, truncated or otherwise torn).
    */
  def readManifest[A](p: Path)(parse: String => A): Option[A] =
    if (!Files.isRegularFile(p)) None
    else try Some(parse(Files.readString(p))) catch { case NonFatal(_) => None }

  /** Delete the entries of `dir` that `live` rejects and that were last
    * modified before `before`, and the `.tmp-` debris last modified
    * before `tmpBefore` (epoch millis). Returns how many non-debris
    * entries were deleted.
    */
  def sweep(dir: Path, live: String => Boolean, before: Long,
      tmpBefore: Long): Int = {
    def mtime(p: Path): Long =
      try Files.getLastModifiedTime(p).toMillis
      catch { case NonFatal(_) => Long.MaxValue }
    val (debris, entries) =
      listDir(dir).partition(_.getFileName.toString.startsWith(".tmp-"))
    debris.filter(mtime(_) < tmpBefore).foreach(deleteRecursively)
    val dead = entries
      .filter(p => !live(p.getFileName.toString) && mtime(p) < before)
    dead.foreach(deleteRecursively)
    dead.size
  }

  /** The entries of `dir`; none when it is not a directory. */
  def listDir(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.list(dir)
      try s.iterator().asScala.toSeq finally s.close()
    }

  def deleteRecursively(p: Path): Unit = {
    listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  /** fsync a directory so a just-completed rename survives power loss
    * (POSIX: the rename itself is atomic but only durable once the
    * parent directory's metadata is flushed). Best-effort on
    * filesystems that refuse directory channels.
    */
  def fsyncDir(d: Path): Unit =
    try {
      val ch = FileChannel.open(d, StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    } catch { case NonFatal(_) => () }
}
