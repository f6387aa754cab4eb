package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.session.{Persistence, StudySession}
import graft.sinks.XptReader
import graft.operators.SuppColumnConfig

/** `ops_*` workloads: one pass runs every listed `SparkEntry.queries`
  * entry once, in list order (the seed varies the tables, not the order:
  * the first op of a fresh process carries its one-time costs, and a
  * seeded order would move them between queries). Each op
  * builds the query's DataFrame and writes its result as parquet under
  * `<out>/ops/<op id>`, where the output check compares it with the
  * query's DuckDB oracle. */
final class OpsWorkload(dataDir: String, names: Seq[String]) extends Workload {
  private val queries = SparkEntry.queries

  override def describe: Map[String, Any] =
    Map("oracles" -> SparkEntry.oracleSql.filter(e => names.contains(e._1)))

  def pass(h: Harness, n: Int): Double =
    h.pass(n) { span =>
      names.foreach { name =>
        h.op(n, span, "query", name) { op =>
          val df = op.phase("build")(queries(name)(h.spark, dataDir))
          val path = h.outDir.resolve("ops").resolve(op.id.toString)
          op.phase("run")(df.write.mode("overwrite").parquet(path.toString))
          h.spark.catalog.clearCache()
          Map("path" -> path.toString,
            "resident_after_bytes" -> h.residentBlockBytes())
        }
      }
    }
}

/** The part of a study's `manifest.json` (studygen.py) that a pass needs:
  * domain -> CSV file, domain -> SUPP routing (source column, QNAM, QLABEL),
  * and domain -> remap toggle (variable, [its column, an alternate column
  * with equal values]). */
final case class StudyManifest(files: Map[String, String],
    supp: Map[String, Seq[(String, String, String)]],
    remap: Map[String, (String, Seq[String])])

/** `clinical_study`: one pass takes a generated EDC study through
  * StudySession — create (E1) and the Items/CodeLists metadata load, then
  * per domain remap to the alternate column → preview (first page) →
  * validate, and validateCross (E2), then exportAll (E3), a project save
  * and the XPT readback. */
final class ClinicalWorkload(studyDir: String) extends Workload {
  private val manifest = Main.json.readValue(
    Paths.get(studyDir, "manifest.json").toFile, classOf[StudyManifest])
  private val files = manifest.files
  private val domains = files.keys.toSeq.sorted
  private val supp = manifest.supp.map { case (d, cfgs) =>
    d -> cfgs.map { case (col, qnam, qlabel) => col -> SuppColumnConfig(qnam, qlabel, "CRF") }
  }
  private val PageSize = 50

  def pass(h: Harness, n: Int): Double = h.pass(n) { span =>
    val exportDir = h.outDir.resolve(s"export-$n")
    var session: StudySession = null
    h.op(n, span, "create", "E1") { op =>
      session = op.phase("create")(StudySession.create(h.spark, "PERF", studyDir,
        files, headerRows = 2))
      supp.foreach { case (d, cfg) => session.configureSupp(d, cfg) }
      Map("mapping" -> domains.map { d =>
        val m = session.domainState(d).get.mapping
        d -> m.variableNames.flatMap(v => m.columnFor(v).map(v -> _)).toMap
      }.toMap)
    }
    if (session != null) try {
      h.op(n, span, "items", "Items.csv") { op =>
        op.phase("items")(session.loadItemsMetadata(
          Paths.get(studyDir, "Items.csv").toString,
          codeListsCsvPath = Some(Paths.get(studyDir, "CodeLists.csv").toString),
          itemsHeaderRows = 2, codeListsHeaderRows = 2))
        Map.empty
      }
      domains.foreach { d =>
        h.op(n, span, "remap", d) { op =>
          val (variable, cols) = manifest.remap(d)
          op.phase("remap")(session.domainState(d).get.mapping
            .acceptManual(variable, cols(1)).fold(e => sys.error(e), identity))
          session.dirtyTracker.markDirty()
          Map.empty
        }
        h.op(n, span, "preview", d) { op =>
          val page = op.phase("preview")(session.preview(d).get.limit(PageSize).collect())
          Map("rows" -> page.length)
        }
        h.op(n, span, "validate", d) { op =>
          Map("issues" -> issueCounts(op.phase("validate")(session.validate(d))))
        }
      }
      h.op(n, span, "validate_cross", "study") { op =>
        Map("issues" -> issueCounts(op.phase("validate_cross")(session.validateCross())))
      }
      var written: Seq[String] = Nil
      h.op(n, span, "export", "E3") { op =>
        written = op.phase("export")(session.exportAll(exportDir.toString))
        Map("written" -> written.map(p => Paths.get(p).getFileName.toString),
          "bytes" -> written.map(p => Files.size(Paths.get(p))).sum,
          "define" -> exportDir.resolve("define.xml").toString)
      }
      h.op(n, span, "save", "project") { op =>
        val path = h.outDir.resolve(s"project-$n.tss").toString
        op.phase("save")(Persistence.save(
          Persistence.snapshotOf(session, studyDir, files), path))
        Map("bytes" -> Files.size(Paths.get(path)))
      }
      h.op(n, span, "readback", "xpt") { op =>
        val counts = op.phase("readback")(written.filter(_.endsWith(".xpt")).map { p =>
          Paths.get(p).getFileName.toString.stripSuffix(".xpt").toUpperCase ->
            XptReader.countRows(p)
        }.toMap)
        Map("rows" -> counts)
      }
    } finally {
      domains.foreach(d => session.domainState(d).foreach(_.source.unpersist()))
      h.spark.catalog.clearCache()
    }
  }

  /** Issue counts keyed `DOMAIN:VARIABLE:Kind`. */
  private def issueCounts(issues: Seq[graft.operators.Issue]): Map[String, Long] =
    issues.groupBy(i => s"${i.domain}:${i.variable}:${i.kind}")
      .map { case (k, is) => k -> is.map(_.count).sum }
}
