package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.locks.ReentrantReadWriteLock

import org.apache.hadoop.fs.{FileStatus, RawLocalFileSystem, Path => HPath}

/** The watched folder's filesystem: the local disk under its own scheme
  * (`landing:`), so a landing of several workbooks is seen whole. A landing
  * holds the write lock while it renames its files in; a directory listing
  * holds the read lock. The stream therefore sees all of a landing's files
  * in one listing or none of them, and batch composition repeats exactly.
  * It also times the listings the source makes. */
class LandingFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = LandingFs.Uri
  override def getScheme: String = "landing"
  override def listStatus(f: HPath): Array[FileStatus] = {
    LandingFs.lock.readLock().lock()
    val t0 = System.nanoTime()
    try super.listStatus(f)
    finally {
      LandingFs.listNanos.add(System.nanoTime() - t0)
      LandingFs.listings.increment()
      LandingFs.lock.readLock().unlock()
    }
  }
}

object LandingFs {
  val Uri: java.net.URI = java.net.URI.create("landing:///")
  val lock = new ReentrantReadWriteLock()
  val listNanos = new java.util.concurrent.atomic.LongAdder
  val listings = new java.util.concurrent.atomic.LongAdder
}

/** One landing: the workbook versions renamed into the folder together. */
final case class Landed(id: Int, files: Seq[String], mtimes: Seq[Long], rows: Int,
                        nanos: Seq[Long], wallMs: Long)

/** The watched folder. Workbooks are written beside it, given a strictly
  * increasing mtime, then renamed in atomically (a re-save replaces the
  * file in place). Mtimes are synthetic (a counter, not the clock), so the
  * source's `(path, mtime, length)` version keys repeat for a seed. */
final class Folder(root: Path) {
  val dir: Path = root.resolve("landing")
  private val stage = root.resolve("landing-stage")
  Files.createDirectories(dir); Files.createDirectories(stage)
  private var mtime = 1700000000000L
  private var seq = 0
  val uri: String = "landing://" + dir.toAbsolutePath.toString

  /** Rename `books` in as one landing. `register` runs before the lock is
    * released, so no listing can see the files before it has run. */
  def land(books: Seq[(String, Array[Byte], Int)], register: Landed => Unit): Landed = {
    val staged = books.map { case (name, bytes, _) =>
      val p = stage.resolve(name)
      Files.write(p, bytes)
      mtime += 1000
      Files.setLastModifiedTime(p, FileTime.fromMillis(mtime))
      (name, p, mtime)
    }
    seq += 1
    val stamps = new Array[Long](staged.size)
    LandingFs.lock.writeLock().lock()
    try {
      staged.zipWithIndex.foreach { case ((name, p, _), i) =>
        Files.move(p, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
        stamps(i) = System.nanoTime()
      }
      val l = Landed(seq, staged.map(_._1), staged.map(_._3), books.map(_._3).sum,
        stamps.toSeq, System.currentTimeMillis())
      register(l)
      l
    } finally LandingFs.lock.writeLock().unlock()
  }
}
