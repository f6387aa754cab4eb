package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Single-file assembly: an artifact appears whole or not at all. */
class PartFilesSpec extends SparkSpec {

  private def assemble(path: Path, failTail: Boolean): Long = {
    val rows = spark.sparkContext.parallelize(1 to 100, 4)
    PartFiles.assemble(rows, path.toString,
      head = _.write("HEAD\n".getBytes(StandardCharsets.US_ASCII)),
      tail = (out, n) => {
        if (failTail) throw new IllegalStateException("tail failed")
        out.write(s"TAIL $n\n".getBytes(StandardCharsets.US_ASCII))
      }) { (it, out) =>
      var n = 0L
      it.foreach { i => out.write(s"$i\n".getBytes(StandardCharsets.US_ASCII)); n += 1 }
      n
    }
  }

  private def listing(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
  }

  test("a failed assembly keeps the previous artifact's bytes and leaves no temp") {
    val dir = Files.createTempDirectory("partfiles")
    val path = dir.resolve("out.dat")
    assert(assemble(path, failTail = false) == 100)
    val before = Files.readAllBytes(path)
    assert(new String(before, StandardCharsets.US_ASCII) ==
      (Seq("HEAD") ++ (1 to 100).map(_.toString) :+ "TAIL 100").mkString("", "\n", "\n"))
    val e = intercept[IllegalStateException](assemble(path, failTail = true))
    assert(e.getMessage == "tail failed")
    assert(Files.readAllBytes(path).sameElements(before),
      "the failed assembly changed the previous artifact")
    assert(listing(dir) == Seq("out.dat"), "a temp or parts directory was left behind")
  }

  test("a re-assembled artifact keeps the permissions it was given") {
    val dir = Files.createTempDirectory("partfiles_perms")
    val path = dir.resolve("out.dat")
    assemble(path, failTail = false)
    Files.setPosixFilePermissions(path, PosixFilePermissions.fromString("rw-rw-r--"))
    assemble(path, failTail = false)
    assert(Files.getPosixFilePermissions(path) == PosixFilePermissions.fromString("rw-rw-r--"))
  }
}
