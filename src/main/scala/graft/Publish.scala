package graft

import java.io.FileNotFoundException
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{AtomicMoveNotSupportedException, Files, Path}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import java.nio.file.StandardOpenOption.{CREATE_NEW, WRITE}
import java.util.UUID

/** The one way a file graft writes becomes visible, after the reference's
  * atomic save (`io/save.rs:14-61`): a crash, an interrupt or a failed
  * writer leaves the target's previous complete bytes, or no file. */
private[graft] object Publish {

  /** Run `write` on a unique sibling temp of `target`, rename the temp
    * over `target` (atomically where the filesystem can) and return what
    * `write` returned; any failure deletes the temp and leaves the target
    * untouched. Concurrent writers of one target (autosave and manual
    * save, two attempts of one part) each get their own temp, and the
    * last complete one wins. `write` must flush what it wraps around the
    * channel and must not close it. CREATE_NEW honours the umask
    * (`createTempFile`'s 0600 bits would survive the rename); an existing
    * target's POSIX permissions carry over; `durable` fsyncs before the
    * rename. The parent must exist: a zombie part writer cannot resurrect
    * a parts directory its job's cleanup removed. */
  def file[A](target: Path, durable: Boolean = false)(write: FileChannel => A): A = {
    // fail before writing, with the error an in-place open gave
    if (Files.isDirectory(target)) throw new FileNotFoundException(s"$target (Is a directory)")
    val tmp = target.resolveSibling(s"${target.getFileName}.${UUID.randomUUID()}.tmp")
    try {
      val ch = FileChannel.open(tmp, CREATE_NEW, WRITE)
      val result = try { val r = write(ch); if (durable) ch.force(true); r } finally ch.close()
      scala.util.Try(Files.setPosixFilePermissions(tmp, Files.getPosixFilePermissions(target)))
      try Files.move(tmp, target, ATOMIC_MOVE, REPLACE_EXISTING)
      catch { case _: AtomicMoveNotSupportedException => Files.move(tmp, target, REPLACE_EXISTING) }
      result
    } catch {
      case e: Throwable =>
        scala.util.Try(Files.deleteIfExists(tmp))
        throw e
    }
  }

  /** [[file]] for an in-memory payload. */
  def bytes(target: Path, data: Array[Byte], durable: Boolean = false): Unit =
    file(target, durable) { ch =>
      val buf = ByteBuffer.wrap(data)
      while (buf.hasRemaining) ch.write(buf) // write() may be partial
    }
}
