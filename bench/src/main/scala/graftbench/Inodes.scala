package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Byte accounting by inode over a directory tree: a hard-linked file is
  * one inode however many paths name it, so it is counted once. Warehouse
  * data dirs are write-once, which makes "bytes newly written" the bytes
  * of inodes that were not there before.
  */
final case class InodeSnapshot(files: Map[String, (Long, Long)]) { // path -> (inode, bytes)
  lazy val inodes: Map[Long, Long] = files.values.toMap

  def bytes: Long = inodes.values.sum

  /** Inodes present now and absent from `before`: (count, bytes). */
  def newSince(before: InodeSnapshot): (Int, Long) = {
    val fresh = inodes.filter { case (ino, _) => !before.inodes.contains(ino) }
    (fresh.size, fresh.values.sum)
  }

  /** New paths that point at an inode that already existed: hard links. */
  def linkedSince(before: InodeSnapshot): Int =
    files.count { case (p, (ino, _)) => !before.files.contains(p) && before.inodes.contains(ino) }
}

object Inodes {
  def snapshot(roots: Seq[Path]): InodeSnapshot =
    InodeSnapshot(roots.map(snapshot).flatMap(_.files).toMap)

  def snapshot(root: Path): InodeSnapshot = {
    if (!Files.isDirectory(root)) return InodeSnapshot(Map.empty)
    val st = Files.walk(root)
    try InodeSnapshot(st.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      val ino = Files.getAttribute(p, "unix:ino").asInstanceOf[Long]
      p.toString -> (ino, Files.size(p))
    }.toMap)
    finally st.close()
  }
}
