package graft.session

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Snapshot of a study's configuration (K4 — `.tss` project files,
  * `crates/tss-persistence/src/lib.rs:14-28`; rkyv binary there, JSON
  * here — the content is what matters: assignments, current mappings,
  * omitted variables, source hashes for change detection). `mappings`
  * stores the CURRENT variable→column assignment, whether scorer-suggested
  * or user-accepted — reopening a project restores the working state the
  * user last saw, acceptance status and all pending suggestions included
  * in one assignment map. */
case class ProjectSnapshot(
    formatVersion: Int,
    studyId: String,
    assignments: Map[String, String],
    mappings: Map[String, Map[String, String]], // domain → (variable → column)
    omitted: Map[String, Seq[String]],
    sourceHashes: Map[String, String],
    standard: String = "sdtm", // implementation guide the study is authored against
    ctVersion: String = null)  // CT publication pin (v3+; null = legacy file)

/**
 * K4 — project persistence (`crates/tss-persistence/src/io/save.rs:78-106`,
 * `io/load.rs:34-77`, `io/hash.rs:15-42`).
 *
 * Canonical on-disk form mirrors the reference's `.tss` container:
 *
 * {{{
 *   4 bytes   magic "GTS\x01"
 *   4 bytes   schema version, u32 little-endian
 *   N bytes   payload
 * }}}
 *
 * The payload is gzip-compressed JSON rather than the reference's rkyv
 * archive — zero-copy deserialization has no JVM idiom, and a
 * field-tolerant JSON codec is what gives the format its forward-
 * evolution story here (new optional fields load as null/default from
 * old files). Saves are atomic (temp file + fsync + rename) so a crash
 * mid-save never corrupts the previous snapshot; loads reject files
 * with a version newer than this build and still accept the bare-JSON
 * snapshots earlier releases wrote.
 */
object Persistence {

  // v2 adds `standard` (v1 files load as SDTM); v3 adds `ctVersion`
  // (v1/v2 files load as 2025-03-28 — the ONLY publication those builds
  // embedded, so a reopened legacy project keeps resolving exactly the
  // terminology it was authored against, not the new default)
  val FormatVersion = 3

  /** `types/mod.rs:36` — 3 id bytes + one format-generation byte. */
  val MagicBytes: Array[Byte] = Array('G'.toByte, 'T'.toByte, 'S'.toByte, 0x01.toByte)

  /** Jackson with Scala collections — also writes Verify's JSON files. */
  private[graft] val mapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m
  }

  /** Streaming SHA-256 of a file (`compute_file_hash`). */
  def sha256(path: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(Paths.get(path))
    try {
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** Write the binary `.tss` container atomically and durably
    * (`io/save.rs:14-61`) through [[graft.Publish]], so an interrupted
    * save leaves the previous snapshot intact. */
  def save(snapshot: ProjectSnapshot, path: String): Unit = {
    val target = Paths.get(path)
    Files.createDirectories(Option(target.getParent).getOrElse(Paths.get(".")))
    graft.Publish.bytes(target, serialize(snapshot), durable = true)
  }

  /** Human-readable save for debugging/diffing; `load` accepts both. */
  def saveJson(snapshot: ProjectSnapshot, path: String): Unit =
    graft.Publish.bytes(Paths.get(path),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(snapshot))

  private[session] def serialize(snapshot: ProjectSnapshot): Array[Byte] = {
    // header version = the snapshot's own declared version, so the two
    // never disagree; refuse to stamp a version this build can't reload
    require(snapshot.formatVersion >= 1 && snapshot.formatVersion <= FormatVersion,
      s"snapshot formatVersion ${snapshot.formatVersion} outside supported 1..$FormatVersion")
    val payload = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      try gz.write(mapper.writeValueAsBytes(snapshot)) finally gz.close()
      bos.toByteArray
    }
    val out = java.nio.ByteBuffer.allocate(8 + payload.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put(MagicBytes).putInt(snapshot.formatVersion).put(payload)
    out.array()
  }

  def load(path: String): ProjectSnapshot = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val json =
      if (bytes.length >= 4 && bytes.take(4).sameElements(MagicBytes)) {
        // binary container: validate header (`io/load.rs:34-65`)
        if (bytes.length < 9)
          throw new IllegalArgumentException(s"$path: truncated snapshot (no payload)")
        // the header field is u32: compare unsigned so a version with the
        // top bit set still reads as "newer", not negative
        val version = Integer.toUnsignedLong(java.nio.ByteBuffer.wrap(bytes, 4, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt)
        if (version > FormatVersion)
          throw new IllegalArgumentException(
            s"$path: snapshot version $version is newer than this build's " +
              s"max supported $FormatVersion")
        val in = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(bytes, 8, bytes.length - 8))
        try in.readAllBytes() finally in.close()
      } else if (bytes.nonEmpty && bytes(0) == '{'.toByte) {
        bytes // legacy bare-JSON snapshot from earlier releases
      } else {
        throw new IllegalArgumentException(
          s"$path: not a graft project snapshot (bad magic bytes)")
      }
    val snap = mapper.readValue(json, classOf[ProjectSnapshot])
    // absent fields from older formats load as null: v1 predates the
    // standard selector (null = SDTM), v1/v2 predate the CT version pin
    // (null = 2025-03-28, the publication those builds embedded). A v3+
    // file declared the pin at save time, so a null there is corruption —
    // fail fast rather than silently resolving against a pin the study
    // was never authored with.
    val s1 = if (snap.standard == null) snap.copy(standard = "sdtm") else snap
    if (s1.ctVersion == null) {
      if (s1.formatVersion >= 3)
        throw new IllegalArgumentException(
          s"$path: formatVersion ${s1.formatVersion} snapshot is missing " +
            "ctVersion — corrupted or hand-edited file")
      s1.copy(ctVersion = "2025-03-28")
    } else s1
  }

  /** Domains whose source file content changed since the snapshot. A file
    * that went missing/unreadable since the snapshot counts as changed
    * rather than aborting the whole scan. */
  def changedSources(snapshot: ProjectSnapshot, folder: String): Seq[String] =
    snapshot.assignments.toSeq.sortBy(_._1).collect {
      case (domain, file)
          if snapshot.sourceHashes.get(domain).exists { old =>
            scala.util.Try(sha256(Paths.get(folder, file).toString))
              .map(_ != old).getOrElse(true)
          } =>
        domain
    }.map(_.toString)

  /** Build a snapshot from a live session. Mappings iterate the session's
    * own mapping state (not a fresh Standards lookup), so SEND/ADaM studies
    * and split-domain datasets (LBCH, …) persist their mappings too. */
  def snapshotOf(session: StudySession, folder: String,
      assignments: Map[String, String]): ProjectSnapshot =
    ProjectSnapshot(
      formatVersion = FormatVersion,
      studyId = session.studyId,
      assignments = assignments,
      mappings = session.domainCodes.map { c =>
        val ds = session.domainState(c).get
        c -> ds.mapping.variableNames.flatMap(v =>
          ds.mapping.columnFor(v).map(v -> _)).toMap
      }.toMap,
      omitted = session.domainCodes.map(c =>
        c -> session.domainState(c).get.mapping.omitted.toSeq.sorted).toMap,
      sourceHashes = assignments.map { case (d, f) =>
        d -> sha256(Paths.get(folder, f).toString)
      },
      standard = session.standard,
      ctVersion = session.ctVersion)
}
