package graft.session

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Binary `.tss`-container format + auto-save policy (K4 —
  * `crates/tss-persistence/src/io/{save,load}.rs`, `autosave/`).
  * Spark-free: the snapshot codec and dirty tracking are driver-side.
  */
class PersistenceSpec extends AnyFunSuite {

  private val snap = ProjectSnapshot(
    formatVersion = Persistence.FormatVersion,
    studyId = "S1",
    assignments = Map("DM" -> "dm.csv"),
    mappings = Map("DM" -> Map("SEX" -> "SEX", "USUBJID" -> "SUBJ")),
    omitted = Map("DM" -> Seq("DROPME")),
    sourceHashes = Map("DM" -> ("ab" * 32)),
    standard = "send",
    ctVersion = "2025-09-26",
    notCollected = Map("DM" -> Seq("ETHNIC", "RACE")))

  private def tmpPath(name: String): String = {
    Files.createDirectories(Paths.get("target/tmp"))
    s"target/tmp/$name"
  }

  test("binary container: header is magic + little-endian version, round trip exact") {
    val p = tmpPath("persist_bin.tss")
    Persistence.save(snap, p)
    val bytes = Files.readAllBytes(Paths.get(p))
    assert(bytes.take(4).sameElements(Persistence.MagicBytes))
    val version = java.nio.ByteBuffer.wrap(bytes, 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    assert(version == Persistence.FormatVersion)
    assert(Persistence.load(p) == snap)
  }

  test("atomic save: overwrite leaves no temp file and the new content wins") {
    val dir = Files.createTempDirectory("persist_atomic")
    val p = dir.resolve("snap.tss").toString
    Persistence.save(snap, p)
    Persistence.save(snap.copy(studyId = "S2"), p)
    assert(Persistence.load(p).studyId == "S2")
    // unique per-save temps must all be cleaned up after the renames
    val leftovers = Files.list(dir).iterator()
    val names = scala.collection.mutable.Buffer[String]()
    while (leftovers.hasNext) names += leftovers.next().getFileName.toString
    assert(names.toSeq == Seq("snap.tss"), s"stray files: $names")
  }

  test("legacy bare-JSON snapshots still load, including v1 without standard") {
    val p = tmpPath("persist_legacy.json")
    Persistence.saveJson(snap, p)
    assert(Persistence.load(p) == snap)
    // v1 file: no standard field at all — loads as SDTM
    val v1 = """{"formatVersion":1,"studyId":"OLD","assignments":{},
      "mappings":{},"omitted":{},"sourceHashes":{}}"""
    val p1 = tmpPath("persist_v1.json")
    Files.write(Paths.get(p1), v1.getBytes("UTF-8"))
    assert(Persistence.load(p1).standard == "sdtm")
    // v1/v2 files predate the CT version pin: they load as 2025-03-28 (the
    // only publication those builds embedded), NOT the current default —
    // reopening a legacy project must keep its terminology unchanged
    assert(Persistence.load(p1).ctVersion == "2025-03-28")
    val v2 = """{"formatVersion":2,"studyId":"OLD2","assignments":{},
      "mappings":{},"omitted":{},"sourceHashes":{},"standard":"send"}"""
    val p2 = tmpPath("persist_v2.json")
    Files.write(Paths.get(p2), v2.getBytes("UTF-8"))
    assert(Persistence.load(p2).ctVersion == "2025-03-28")
    assert(Persistence.load(p2).standard == "send")
  }

  test("v1–v3 snapshots predate NotCollected marks and load with none") {
    for (v <- 1 to 3) {
      val json = s"""{"formatVersion":$v,"studyId":"OLD$v","assignments":{},
        "mappings":{},"omitted":{},"sourceHashes":{},"ctVersion":"2025-03-28"}"""
      val p = tmpPath(s"persist_v${v}_nonc.json")
      Files.write(Paths.get(p), json.getBytes("UTF-8"))
      assert(Persistence.load(p).notCollected == Map.empty)
    }
  }

  test("v3 snapshot with missing ctVersion is rejected, not backfilled") {
    // the 2025-03-28 backfill is for pre-pin formats only; a v3 file
    // declared its pin at save time, so a null there is corruption
    val v3 = """{"formatVersion":3,"studyId":"BAD","assignments":{},
      "mappings":{},"omitted":{},"sourceHashes":{},"standard":"sdtm"}"""
    val p3 = tmpPath("persist_v3_noct.json")
    Files.write(Paths.get(p3), v3.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](Persistence.load(p3))
    assert(e.getMessage.contains("ctVersion"))
  }

  test("load rejects newer versions and foreign files") {
    // newer-version container: bump the header version field
    val newer = Persistence.serialize(snap)
    java.nio.ByteBuffer.wrap(newer, 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(Persistence.FormatVersion + 1)
    val pNew = tmpPath("persist_newer.tss")
    Files.write(Paths.get(pNew), newer)
    val eNew = intercept[IllegalArgumentException](Persistence.load(pNew))
    assert(eNew.getMessage.contains("newer"))
    // u32 semantics: a version with the sign bit set is "newer", not negative
    val signBit = Persistence.serialize(snap)
    java.nio.ByteBuffer.wrap(signBit, 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(0x80000000)
    val pSign = tmpPath("persist_signbit.tss")
    Files.write(Paths.get(pSign), signBit)
    val eSign = intercept[IllegalArgumentException](Persistence.load(pSign))
    assert(eSign.getMessage.contains("newer"))
    // not a snapshot at all
    val pBad = tmpPath("persist_bad.tss")
    Files.write(Paths.get(pBad), "XPTgarbage".getBytes("UTF-8"))
    val eBad = intercept[IllegalArgumentException](Persistence.load(pBad))
    assert(eBad.getMessage.contains("magic"))
  }

  // ---- auto-save policy ----------------------------------------------------

  /** Manually-advanced clock so debounce decisions need no sleeping. */
  private class FakeClock { var now = 0L; val fn: () => Long = () => now }

  test("dirty tracker: debounce waits for quiet, max delay forces through") {
    val clock = new FakeClock
    val t = new DirtyTracker(clock.fn)
    val cfg = AutoSaveConfig(debounceMs = 2000, maxDelayMs = 30000)
    assert(!t.isDirty && !t.shouldAutoSave(cfg))

    t.markDirty()
    clock.now = 1999
    assert(!t.shouldAutoSave(cfg), "debounce window still open")
    clock.now = 2000
    assert(t.shouldAutoSave(cfg), "quiet for debounceMs")

    // an edit stream that never goes quiet: each change resets the debounce
    // timer, but the max-delay clock anchored at the FIRST unsaved change
    // eventually forces the save
    t.startSave(); t.saveComplete()
    var ts = 10000L
    while (ts < 39500L) { clock.now = ts; t.markDirty(); ts += 500 }
    clock.now = 39500 // 500ms after last change (< debounce), 29.5s after first
    assert(!t.shouldAutoSave(cfg))
    clock.now = 40000 // 30s after the first unsaved change
    assert(t.shouldAutoSave(cfg), "maxDelayMs forces a save mid-stream")
  }

  test("dirty tracker: in-flight and failed saves") {
    val clock = new FakeClock
    val t = new DirtyTracker(clock.fn)
    val cfg = AutoSaveConfig(debounceMs = 100, maxDelayMs = 1000)
    t.markDirty()
    clock.now = 200
    t.startSave()
    assert(t.isSaving && !t.shouldAutoSave(cfg), "no double-save while in flight")
    t.saveFailed()
    assert(t.isDirty && t.shouldAutoSave(cfg), "failed save retries next tick")
    t.startSave(); t.saveComplete()
    assert(!t.isDirty && !t.shouldAutoSave(cfg))
    assert(t.msSinceFirstUnsaved.isEmpty, "max-delay anchor resets on save")
    assert(AutoSaveConfig.disabled.shouldSave(Long.MaxValue, Long.MaxValue) == false)
  }

  test("negative threshold and disabled config still block auto-save") {
    val clock = new FakeClock
    val t = new DirtyTracker(clock.fn)
    t.markDirty()
    clock.now = 1000000
    assert(!t.shouldAutoSave(AutoSaveConfig.disabled))
  }

  test("tryStartSave: exactly one of two concurrent tickers wins the save") {
    val clock = new FakeClock
    val t = new DirtyTracker(clock.fn)
    val cfg = AutoSaveConfig(debounceMs = 100, maxDelayMs = 1000)
    t.markDirty()
    clock.now = 200
    // both tickers see the session "due"; the atomic check-then-claim lets
    // only the first begin serializing
    assert(t.tryStartSave(cfg), "first ticker claims the save")
    assert(!t.tryStartSave(cfg), "second ticker must lose while in flight")
    t.saveComplete()
    assert(!t.tryStartSave(cfg), "clean session has nothing to save")
  }

  test("atomic save honors the umask and keeps an existing snapshot's permissions") {
    import java.nio.file.attribute.PosixFilePermissions
    val dir = Files.createTempDirectory("persist_perms")
    val p = dir.resolve("snap.tss")
    Persistence.save(snap, p.toString)
    // a fresh save must NOT carry temp-file owner-only 0600 bits: group or
    // other readability (umask-derived, like any regular file) must survive
    val fresh = Files.getPosixFilePermissions(p)
    val probe = dir.resolve("umask_probe")
    Files.write(probe, Array[Byte](1))
    assert(fresh == Files.getPosixFilePermissions(probe),
      s"snapshot perms $fresh differ from a plain file's")
    // a chmod'd snapshot keeps its bits across an overwrite-save
    Files.setPosixFilePermissions(p, PosixFilePermissions.fromString("rw-rw-r--"))
    Persistence.save(snap.copy(studyId = "S2"), p.toString)
    assert(Files.getPosixFilePermissions(p) ==
      PosixFilePermissions.fromString("rw-rw-r--"))
    assert(Persistence.load(p.toString).studyId == "S2")
  }

  test("dirty tracker: an edit landing mid-save survives that save's completion") {
    val clock = new FakeClock
    val t = new DirtyTracker(clock.fn)
    val cfg = AutoSaveConfig(debounceMs = 100, maxDelayMs = 1000)
    t.markDirty()
    clock.now = 200
    t.startSave() // snapshot serialized WITHOUT what comes next
    clock.now = 250
    t.markDirty() // racing edit: not captured by the in-flight save
    t.saveComplete()
    assert(t.isDirty, "racing edit must remain unsaved-dirty")
    clock.now = 400
    assert(t.shouldAutoSave(cfg), "next tick persists the racing edit")
    t.startSave(); t.saveComplete()
    assert(!t.isDirty)
  }
}
