package graft.sinks

import java.io.{BufferedOutputStream, IOException, OutputStream, UncheckedIOException}
import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import java.util.concurrent.TimeUnit

import org.apache.spark.rdd.RDD

import graft.Publish

/**
 * Single-file assembly shared by the XPT and Dataset-XML sinks. Each
 * partition encodes its rows into a part file beside the destination in
 * ONE parallel job (a driver-side row iterator runs one single-partition
 * job at a time, which would serialize the encode on one core; cached
 * encoded chunks would hold the whole dataset in the block store).
 * The driver then writes the head, concatenates the non-empty parts in
 * partition order with zero-copy `FileChannel.transferTo` (pure kernel
 * IO, no re-heap of the bytes; the collected manifest is one row count
 * per partition) and writes the tail. Parts and the destination appear
 * whole through [[Publish]]: duplicate attempts of one part race only on
 * the rename, and a failed assembly leaves the previous artifact intact.
 * The destination's parent must be storage both executors and driver can
 * reach (true in local mode and for the shared mounts a single-file
 * regulatory artifact lands on in cluster mode).
 */
private[sinks] object PartFiles {

  /** Write `rows` as the one file at `path`: `writePart` encodes one
    * partition's rows onto its part stream and returns how many it wrote;
    * `head` runs before the parts, `tail` after them with the total row
    * count. Returns that total. */
  def assemble[T](rows: RDD[T], path: String, head: OutputStream => Unit,
      tail: (OutputStream, Long) => Unit)(
      writePart: (Iterator[T], OutputStream) => Long): Long = {
    val partsDir = Paths.get(path + ".parts")
    deleteRecursively(partsDir)
    Files.createDirectories(partsDir)
    try {
      val partsDirStr = partsDir.toString
      val manifest = rows.mapPartitionsWithIndex { (idx, it) =>
        val n = Publish.file(Paths.get(partsDirStr, partName(idx))) { ch =>
          val out = new BufferedOutputStream(Channels.newOutputStream(ch), 1 << 20)
          val n = writePart(it, out)
          out.flush()
          n
        }
        Iterator.single((idx, n))
      }.collect().sortBy(_._1)
      val total = manifest.map(_._2).sum
      Publish.file(Paths.get(path)) { ch =>
        val out = new BufferedOutputStream(Channels.newOutputStream(ch), 1 << 16)
        head(out)
        out.flush() // channel writes below share the stream's file position
        manifest.foreach { case (idx, n) =>
          if (n > 0) transferFile(partsDir.resolve(partName(idx)), ch)
        }
        tail(out, total)
        out.flush()
      }
      total
    } finally deleteRecursively(partsDir)
  }

  private def partName(idx: Int): String = f"part-$idx%05d"

  /** Concatenate `src` onto `dst` with zero-copy kernel transfers. */
  private def transferFile(src: Path, dst: FileChannel): Unit = {
    val in = FileChannel.open(src)
    try {
      val size = in.size()
      var pos = 0L
      while (pos < size) pos += in.transferTo(pos, size - pos, dst)
    } finally in.close()
  }

  /** Delete `dir` and its files. The tasks of a failed or cancelled job can
    * still be committing parts (a cancel does not wait for running tasks),
    * so a delete that races a new file retries, for at most 10 s, until the
    * directory is gone; after that no task can write into it, since a part
    * opens only inside an existing directory. The retry spins instead of
    * sleeping: the caller may be an interrupted fan-out thread. */
  private def deleteRecursively(dir: Path): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(10)
    def attempt(): Boolean =
      try {
        if (Files.exists(dir)) {
          val paths = Files.walk(dir)
          try paths.sorted(Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
          finally paths.close()
        }
        true
      } catch {
        case _: IOException | _: UncheckedIOException if System.nanoTime() < deadline => false
      }
    while (!attempt()) Thread.onSpinWait()
  }
}
