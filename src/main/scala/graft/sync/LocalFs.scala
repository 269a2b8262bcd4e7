package graft.sync

import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

/** Local file-tree helpers: the store's staging cleanup and pointer
  * flips, and the temp stores and working copies queries make and remove. */
private[graft] object LocalFs {

  /** Recursive delete (children before parents); a missing path is a no-op. */
  def deleteRecursively(dir: Path): Unit =
    if (Files.exists(dir))
      scala.util.Using.resource(Files.walk(dir)) { s =>
        s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      }

  /** Replace file `f` with `bytes` through a temp sibling (`f` +
    * `tmpSuffix`) and an atomic move: a reader sees the old content or
    * the new, whole. */
  def replaceFile(f: Path, bytes: Array[Byte], tmpSuffix: String = ".tmp"): Unit = {
    val tmp = f.resolveSibling(f.getFileName.toString + tmpSuffix)
    Files.write(tmp, bytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Recursive file-tree copy — the working-copy leg of the amortized-seed
    * protocol (a frozen MASTER store is built once, each run mutates a
    * private copy; see IngestDoor.seededWorkingCopy). */
  def copyRecursively(src: Path, dst: Path): Unit =
    if (Files.isDirectory(src)) {
      Files.createDirectories(dst)
      scala.util.Using.resource(Files.list(src))(s =>
        s.iterator().asScala.foreach(p => copyRecursively(p, dst.resolve(p.getFileName))))
    } else {
      Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
      ()
    }
}
