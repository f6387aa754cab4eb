package graft.session

import java.nio.file.Files

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property round-trip of the binary `.tss` container: any well-formed
  * snapshot must survive save→load bit-exactly (maps with odd keys, unicode,
  * empty collections, both schema versions). Deterministic seed walk like
  * the ISO parser property specs. */
class PersistencePropertySpec extends AnyFunSuite {

  private val str: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(20)),
    Gen.oneOf("", " ", "Ünïcødé-試験", "a\"b\\c", "line1\nline2", "{\"json\":1}",
      "GTS", "trailing space "))

  // keys use a total generator (no suchThat retry-aborts) so the seed walk
  // yields a sample nearly every step
  private val key: Gen[String] = Gen.identifier.map(_.take(10))

  private val strMap: Gen[Map[String, String]] =
    Gen.mapOf(Gen.zip(key, str)).map(_.take(8))

  private val snapGen: Gen[ProjectSnapshot] = for {
    version <- Gen.choose(1, Persistence.FormatVersion)
    studyId <- str
    assignments <- strMap
    domains <- Gen.listOf(Gen.oneOf("DM", "AE", "LB", "VS", "LBCH")).map(_.distinct.take(5))
    mappings <- Gen.sequence[List[(String, Map[String, String])], (String, Map[String, String])](
      domains.map(d => strMap.map(d -> _))).map(_.toMap)
    omitted <- Gen.sequence[List[(String, Seq[String])], (String, Seq[String])](
      domains.map(d => Gen.listOf(str).map(l => d -> l.take(4)))).map(_.toMap)
    notCollected <- Gen.sequence[List[(String, Seq[String])], (String, Seq[String])](
      domains.map(d => Gen.listOf(str).map(l => d -> l.take(3)))).map(_.toMap)
    hashes <- strMap
    standard <- Gen.oneOf("sdtm", "send", "adam")
    ctVersion <- Gen.oneOf(graft.standards.Standards.CtVersions)
  } yield ProjectSnapshot(version, studyId, assignments, mappings, omitted, hashes,
    standard, ctVersion, notCollected)

  test("binary container round-trips arbitrary snapshots bit-exactly") {
    val dir = Files.createTempDirectory("persist_prop")
    val params = Gen.Parameters.default
    var seed = Seed(20260812L)
    var checked = 0
    for (i <- 0 until 200) {
      snapGen.apply(params, seed).foreach { snap =>
        val p = dir.resolve(s"s$i.tss").toString
        Persistence.save(snap, p)
        assert(Persistence.load(p) == snap, s"round-trip diverged for: $snap")
        checked += 1
      }
      seed = seed.next
    }
    assert(checked > 150, s"generator drought: only $checked snapshots checked")
  }
}
