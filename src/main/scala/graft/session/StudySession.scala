package graft.session

import java.nio.file.{Files, Paths}
import java.util.{Locale, UUID}
import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft.sourceCol
import graft.operators._
import graft.sinks.{CtStandard, XmlSinks, XmlVariable, XmlCodelist, XptWriter}
import graft.sources.{CsvIngest, ItemMeta, ItemsMetadata}
import graft.standards.{Codelist, SdtmDomain, SdtmVariable, Standards, VariableType}

/** Per-domain state inside a session (DomainState —
  * `crates/tss-gui/src/service/study.rs:122-142`). */
case class DomainState(
    code: String,
    source: DataFrame,
    headers: graft.sources.CsvHeaders,
    hints: Map[String, ColumnHint],
    mapping: MappingState)

/**
 * E1/E2/E3 — study lifecycle orchestration (SURVEY §3), Spark-first:
 *
 *  - E1 create: per-domain CSV scans (parallel plans), one column
 *    profile per domain for the hints, driver-side scoring/suggestion;
 *  - E2 preview+validate: normalization is a single unexecuted projection;
 *    validation fires one fused aggregate per domain + study-wide
 *    anti-joins whose join strategy Spark chooses;
 *  - E3 export: per-domain XPT / Dataset-XML / Define-XML with one
 *    stats aggregate per domain feeding the writers, and SUPP-- datasets
 *    built from the same cached normalized frames.
 *
 * Mirrors `service/study.rs:27-153`, `service/preview.rs:46-86`,
 * `service/export.rs:127-276`.
 */
class StudySession(val spark: SparkSession, val studyId: String,
    val standard: String = "sdtm",
    val ctVersion: String = Standards.DefaultCtVersion) {

  require(Standards.CtVersions.contains(ctVersion),
    s"unknown CT version '$ctVersion' (embedded: ${Standards.CtVersions.mkString(", ")})")

  /** The CT registry every lookup in this session goes through — pinned to
    * the study's terminology release (`registry.rs:20` `ct_version`): rule
    * inference (N8), V8 membership checks, and the Define-XML
    * `def:Standards` section all resolve through the SAME publication, so
    * the exported define.xml reports exactly the release the data was
    * validated against. */
  def ctRegistry: graft.standards.TerminologyRegistry =
    Standards.ct(standard, ctVersion)

  private val domains = scala.collection.mutable.LinkedHashMap[String, DomainState]()
  private val suppConfigs =
    scala.collection.mutable.Map[String, Seq[(String, SuppColumnConfig)]]()
  private var itemsMetadata: Map[String, ItemMeta] = Map.empty
  private var studyCodelists: Map[String, Map[String, String]] = Map.empty

  /** Unsaved-change tracking for debounced auto-save (K4 —
    * `autosave/tracker.rs`). Session-level mutators mark it automatically;
    * callers editing a domain's mapping state directly
    * (`domainState(c).get.mapping.accept…`) should call
    * `dirtyTracker.markDirty()` themselves, mirroring the reference GUI's
    * explicit marks, and must do so from the session thread — only the
    * session-level mutators below are guarded against a concurrent
    * auto-save snapshot. Drive saves with [[autoSaveIfDue]]. */
  val dirtyTracker = new DirtyTracker()

  // guards `domains`/`suppConfigs`/`itemsMetadata`/`studyCodelists` (and the
  // MappingStates reached through them) between the session thread's
  // mutators and the auto-save poller's snapshot read — without it a
  // poller-thread snapshotOf can hit a ConcurrentModificationException or
  // serialize a torn mix of pre- and post-edit mapping state
  private[session] val stateLock = new Object

  /** E1 step — load Items.csv study metadata (S7 statistical detection) and
    * study codelists; labels feed the scorer's label boost, codelists feed
    * the M1/M2 decode applied at ingest (`study.rs:43-49`). Call BEFORE
    * addDomain. Codelists come from `codeListsCsvPath` (the EDC-export
    * CodeLists.csv companion file, routed to columns via each item's
    * FormatName) and/or the pre-built `codelists` map (column → value map),
    * which wins on conflicts. */
  def loadItemsMetadata(itemsCsvPath: String,
      codelists: Map[String, Map[String, String]] = Map.empty,
      codeListsCsvPath: Option[String] = None,
      codeListsHeaderRows: Int = 2,
      itemsHeaderRows: Int = 1): Unit = {
    // ingest + scoring run OUTSIDE the lock: mutators are session-thread-
    // only by contract, the lock exists so the auto-save poller's snapshot
    // read never sees torn state — holding it across whole Spark jobs
    // would block every snapshot (and every other mutator) for the full
    // ingest. Only the shared-map writes below synchronize.
    val (df, _) = CsvIngest.readCsvTable(spark, itemsCsvPath, itemsHeaderRows)
    val dataCols = df.columns.filterNot(_ == CsvIngest.RowIdCol)
    val scores = ItemsMetadata.analyzeColumns(
      df.select(dataCols.toIndexedSeq.map(sourceCol): _*))
    val detected = ItemsMetadata.detectSchema(scores)
      .map(schema => ItemsMetadata.loadItems(df, schema))
    val itemsForRouting = detected.getOrElse(itemsMetadata)
    val fromCsv = codeListsCsvPath.map { p =>
      val (cdf, _) = CsvIngest.readCsvTable(spark, p, codeListsHeaderRows)
      val byFormat = ItemsMetadata.loadCodelists(cdf.drop(CsvIngest.RowIdCol))
      itemsForRouting.values.flatMap(m => m.formatName.flatMap(f =>
        byFormat.get(Codelist.fold(f)).map(m.id -> _))).toMap
    }.getOrElse(Map.empty)
    stateLock.synchronized {
      detected.foreach(itemsMetadata = _)
      studyCodelists = fromCsv ++ codelists
      dirtyTracker.markDirty()
    }
  }

  def domainState(code: String): Option[DomainState] = domains.get(Codelist.fold(code))
  def domainCodes: Seq[String] = domains.keys.toSeq

  /** Split-domain dataset names: a >2-char code whose 2-letter prefix is a
    * splittable parent (LBCH → LB, FAAE → FA) resolves IG metadata, DOMAIN
    * value, and --SEQ naming through the parent, while files, XPT member
    * name, and Define-XML ItemGroupDefs keep the dataset name
    * (`export/types.rs:12-72`). */
  def baseDomainCode(code: String): String = {
    val u = Codelist.fold(code)
    if (u.length > 2 && StudySession.SplitBases.contains(u.take(2))) u.take(2) else u
  }

  private def domainMetaFor(code: String): Option[SdtmDomain] =
    Standards.domain(standard, baseDomainCode(code))

  /** Route extra source columns of a domain to SUPP-- (G1 config). */
  def configureSupp(code: String, configs: Seq[(String, SuppColumnConfig)]): Unit =
    stateLock.synchronized {
      suppConfigs(Codelist.fold(code)) = configs
      dirtyTracker.markDirty()
    }

  /** E1 step — ingest one assigned (domain, csv) pair: scan, RELSUB
    * augmentation, hints, scoring suggestions. */
  def addDomain(code: String, csvPath: String, headerRows: Int = 1): DomainState = {
    val ds = buildDomainState(code, csvPath, headerRows)
    publishDomain(ds)
    ds
  }

  /** The Spark-heavy half of [[addDomain]] — scan, augment, hints,
    * scoring — with no session-state writes, so [[StudySession.create]]
    * can run several builds concurrently (independent files, independent
    * jobs) and publish the results in deterministic order afterwards.
    * Same split as loadItemsMetadata: this work must not hold the
    * snapshot lock; only the domains-map publish does. */
  private def buildDomainState(code: String, csvPath: String,
      headerRows: Int): DomainState = {
    val codeU = Codelist.fold(code)
    val (raw, headers) = CsvIngest.readCsvTable(spark, csvPath, headerRows)
    val augmented = if (codeU == "RELSUB") Reshape.ensureRelsubBidirectional(raw) else raw
    // M1/M2 — study-codelist decode for coded columns present in the frame
    val decodeable = studyCodelists.filter { case (c, _) => augmented.columns.contains(c) }
    val df = Reshape.applyStudyCodelists(augmented, decodeable).cache()
    val dataCols = df.columns.filterNot(_ == CsvIngest.RowIdCol).toSeq
    // column labels: double-header row, else Items.csv item labels (S7)
    val headerLabels = headers.labels
      .map(ls => headers.columns.zip(ls).toMap).getOrElse(Map.empty)
    val itemLabels = dataCols.flatMap(c => itemsMetadata.get(c).map(c -> _.label)).toMap
    // a build cancelled mid-job (a sibling in create failed) frees its own
    // cache: it returns no DomainState for the caller to unpersist
    val hints = try Mapping.columnHints(df.select(dataCols.map(sourceCol): _*),
      itemLabels ++ headerLabels)
    catch { case e: Throwable => df.unpersist(); throw e }

    val domainMeta = domainMetaFor(codeU).getOrElse(
      SdtmDomain(codeU, None, None, None, Nil))
    val varMetas = domainMeta.variables.map(v =>
      VarMeta(v.name, v.label, v.isRequired,
        isNumeric = Some(v.dataType == graft.standards.VariableType.Num)))
    val state = new MappingState(codeU, varMetas)
    state.applySuggestions(Mapping.suggestAll(dataCols, varMetas, hints))
    DomainState(codeU, df, headers, hints, state)
  }

  private def publishDomain(ds: DomainState): Unit = stateLock.synchronized {
    domains.get(ds.code).foreach(_.source.unpersist()) // re-add frees the old cache
    domains(ds.code) = ds
    if (ds.code == "DM") refDateCache = None // new DM invalidates the memo
    dirtyTracker.markDirty()
  }

  /** Accept every scorer suggestion (the auto-accept path used in tests
    * and batch pipelines; interactive flows call mapping.acceptManual). */
  def acceptAllSuggestions(code: String): Unit = stateLock.synchronized {
    domainState(code).foreach { ds =>
      domainMetaFor(ds.code).foreach(_.variables.foreach { v =>
        ds.mapping.acceptSuggestion(v.name) // no-op unless Suggested
      })
      dirtyTracker.markDirty()
    }
  }

  /** One auto-save tick (`autosave/tracker.rs:95-106` + `io/save.rs`):
    * persist a snapshot iff the debounce policy says the session is due.
    * Returns true when a save happened. A failed save keeps the session
    * dirty so the next tick retries. */
  def autoSaveIfDue(folder: String, assignments: Map[String, String],
      snapshotPath: String,
      config: AutoSaveConfig = AutoSaveConfig()): Boolean = {
    // one atomic check-then-claim: two concurrent tickers can't both pass
    // a separate shouldAutoSave test and start duplicate saves
    if (!dirtyTracker.tryStartSave(config)) return false
    try {
      // snapshot under the same lock the mutators hold — a concurrent
      // addDomain/accept can't tear the state mid-serialization; the disk
      // write happens after release so edits only block for the read
      val snap = stateLock.synchronized(
        Persistence.snapshotOf(this, folder, assignments))
      Persistence.save(snap, snapshotPath)
      dirtyTracker.saveComplete()
      true
    } catch {
      case e: Throwable => dirtyTracker.saveFailed(); throw e
    }
  }

  // DM reference date is memoized per RFSTDTC source column, so repeated
  // preview/validate/export calls skip the DM scan-and-sort job BUT a
  // re-mapped RFSTDTC (acceptManual after the first preview) recomputes —
  // study days must always follow the current mapping
  private var refDateCache: Option[(Option[String], Option[String])] = None

  private def referenceDate: Option[String] = {
    val mappedCol = domains.get("DM").flatMap(dm =>
      dm.mapping.columnFor("RFSTDTC").filter(dm.source.columns.contains))
    refDateCache match {
      case Some((key, v)) if key == mappedCol => v
      case _ =>
        val v = for {
          dm <- domains.get("DM")
          c <- mappedCol
          d <- RuleInference.referenceDateFrom(dm.source, c)
        } yield d
        refDateCache = Some((mappedCol, v))
        v
    }
  }

  private def contextFor(ds: DomainState): NormalizationContext = {
    val refDate = referenceDate
    NormalizationContext(
      studyId = studyId,
      domainCode = baseDomainCode(ds.code),
      mappings = domainMetaFor(ds.code).map(_.variables.flatMap(v =>
        ds.mapping.columnFor(v.name).map(v.name -> _)).toMap).getOrElse(Map.empty),
      omitted = ds.mapping.omitted,
      referenceDate = refDate,
      standard = standard,
      ctVersion = ctVersion)
  }

  /** E2 — normalized preview: one projection, lazily planned. `_row_id`
    * rides along for deterministic export ordering. */
  def preview(code: String): Option[DataFrame] =
    for {
      ds <- domainState(code)
      domain <- domainMetaFor(ds.code)
    } yield RuleInference.normalizeDomain(ds.source, domain, contextFor(ds),
      keepRowId = true)

  /** E2 — validate one domain's normalized frame. */
  def validate(code: String): Seq[Issue] =
    (for {
      ds <- domainState(code)
      domain <- domainMetaFor(ds.code)
      frame <- preview(code)
    } yield DomainValidation.validateDomain(frame, domain,
      notCollected = ds.mapping.notCollected, ct = ctRegistry)).getOrElse(Nil)

  /** E2 — study-wide cross-domain checks over normalized frames. */
  def validateCross(): Seq[Issue] =
    DomainValidation.validateCrossDomain(
      domainCodes.flatMap(c => preview(c).map(c -> _)).toMap)

  /** Implementation-guide version string for the study's standard — rides
    * into the XML writers' MDV OIDs and descriptions (the reference takes
    * this as a caller option, `define_xml.rs:27-35`; deriving it from the
    * session's standard selector keeps the two always consistent). */
  def igVersion: String = standard.toLowerCase(Locale.ROOT) match {
    case "send" => "3.1.1"
    case "adam" => "1.3"
    case _ => "3.4"
  }

  /** E3 — export every domain: XPT + Dataset-XML per domain, an XPT per
    * configured SUPP-- dataset, one Define-XML over all. Returns the
    * written paths: each domain's `.xpt`, `.xml` pair in sorted-code order,
    * then the SUPP-- `.xpt`s in parent-code order, then `define.xml`.
    *
    * The sink work is ONE ordered task list on the session's fan-out
    * ([[StudySession.inParallel]]): per domain a stats+XPT+Define-row task
    * and a Dataset-XML task, then one task per SUPP-- dataset. No task ever
    * waits on another, so the long pole (the largest domain's Dataset-XML)
    * overlaps everything else instead of the whole export running serially.
    * Each domain's normalized frame is cached once and shared by its two
    * sinks and its SUPP-- join. All session-state reads (previews,
    * metadata, SUPP configs and template, the DM reference date) happen on
    * the caller's thread BEFORE the fork; the tasks touch only their own
    * frames and write paths, and every output byte is assembled in task
    * order afterwards, so the produced files are identical to a serial
    * loop's (golden SHA-256 pins). */
  def exportAll(outDir: String): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    val ct = ctRegistry

    // only domains with IG metadata can export (preview needs the variable
    // list); unknown codes were ingestable for mapping work but are skipped
    val exportable = domainCodes.sorted.filter(c =>
      domainMetaFor(c).isDefined && domainState(c).isDefined)

    // per-domain plan + metadata, resolved serially (cheap, driver-only);
    // building the previews here also materializes the DM reference-date
    // memo on this thread — the forked tasks below only run the plans
    case class DomainPlan(code: String, domain: SdtmDomain, frame: DataFrame,
        presentVars: Seq[SdtmVariable], isRefData: Boolean)
    val plans = exportable.map { code =>
      val domain = domainMetaFor(code).get
      // cached PRE-SORTED by the export order: both sinks (XPT `typed`,
      // Dataset-XML's orderCol) sort by _row_id — caching the sorted frame
      // pays that global sort once and the cached plan's outputOrdering
      // satisfies both sinks' Sort requirements (bytes unchanged: the
      // golden SHA-256 pins cover both artifacts)
      val frame = preview(code).get.orderBy(col(CsvIngest.RowIdCol)).cache()
      val presentVars = domain.orderedVariables.filter(v => frame.columns.contains(v.name))
      // Trial Design / Study Reference datasets are reference data, not
      // subject data (is_reference_domain — export/common.rs:74-80): they
      // ride in <ReferenceData> in Dataset-XML and carry
      // def:IsReferenceData="Yes" in Define-XML
      val isRefData = domain.className.exists(c =>
        c.equalsIgnoreCase("Trial Design") || c.equalsIgnoreCase("Study Reference"))
      DomainPlan(code, domain, frame, presentVars, isRefData)
    }

    // SUPP-- plans: the parent's plan, raw source and configs, and the
    // SUPPQUAL template clone that names, labels and describes the dataset
    // (the SDTM-IG template is embedded, so every standard resolves one)
    lazy val suppTemplate = Standards.domain(standard, "SUPPQUAL")
      .orElse(Standards.domain("SUPPQUAL")).get
    val supps = suppConfigs.toSeq.sortBy(_._1).flatMap { case (code, configs) =>
      plans.find(_.code == code).map(p => (p, domains(code).source, configs,
        suppTemplate.asSuppDomain(code, p.domain.label)))
    }

    // one task's share of the package: the file it wrote, its Define-XML
    // row, and the codelists that row references
    case class Part(path: Option[String], define: Option[XmlSinks.DefineDataset],
        codelists: Seq[String] = Nil)

    val domainTasks = plans.flatMap { p =>
      val fileStem = s"$outDir/${p.code.toLowerCase(Locale.ROOT)}"
      Seq(
        // the shared stats aggregate, then XPT (which needs the observed
        // char lengths) and the DefineDataset row
        () => {
          val varNames = p.presentVars.map(_.name)
          // ONE stats aggregate per domain feeds both writers: the XPT
          // observed lengths and the Define-XML maxLength/has_data come
          // from the same numbers, so the two artifacts can never
          // disagree (and export runs one scan fewer per domain)
          val stats = XmlSinks.varStats(p.frame, varNames)
          val charLengths = p.presentVars.filter(_.dataType != VariableType.Num)
            .flatMap(v => stats.get(v.name).map(s => v.name -> math.max(s.maxLength, 1)))
            .toMap
          // XPT (numeric SDTM vars ride as doubles; file order = source
          // order). try_cast, not cast: normalization emits UNMAPPED
          // variables as empty strings (the reference's total-function
          // behavior), and under ANSI a plain cast of "" aborts the
          // export — empty/unparseable numeric cells are missing values,
          // exactly what XptWriter writes for a null (its own string
          // fallback uses Numerics.parse the same way)
          val typed = p.frame.orderBy(col(CsvIngest.RowIdCol)).select(p.presentVars.map { v =>
            if (v.dataType == VariableType.Num) col(v.name).try_cast("double").as(v.name)
            else col(v.name)
          }: _*)
          // same label fallback as the DefineDataset below — XPT and
          // Define-XML must agree on the dataset label
          XptWriter.writeDataFrame(typed, s"$fileStem.xpt",
            p.code, p.domain.label.getOrElse(p.code),
            labels = p.presentVars.map(v => v.name -> v.label.getOrElse(v.name)).toMap,
            declaredLengths = charLengths)
          val codes = Seq.newBuilder[String]
          val define = XmlSinks.DefineDataset(
            name = p.code, domain = baseDomainCode(p.code),
            label = p.domain.label.getOrElse(p.code),
            structure = p.domain.structure.getOrElse(""),
            klass = p.domain.className.getOrElse(""),
            isReferenceData = p.isRefData,
            variables = p.domain.variablesByRole
              .filter(v => p.frame.columns.contains(v.name))
              .map { v =>
                // only reference codelists the CT catalog can actually
                // define — a CodeListRef without a matching CodeList
                // element is a broken OID that fails define.xml validation
                val resolved = v.firstCodelistCode.filter(c => ct.get(c).isDefined)
                resolved.foreach(codes += _)
                xmlVariable(v, resolved.map(c => s"CL.$c"))
              },
            stats = stats)
          Part(Some(s"$fileStem.xpt"), Some(define), codes.result())
        },
        // Dataset-XML (independent of stats)
        () => {
          XmlSinks.writeDatasetXmlFile(p.frame, s"$fileStem.xml",
            p.code, studyId, igVersion, p.presentVars.map(_.name),
            orderCol = Some(CsvIngest.RowIdCol), isReferenceData = p.isRefData)
          Part(Some(s"$fileStem.xml"), None)
        })
    }
    // SUPP-- datasets: source extras joined on _row_id to the USUBJID/SEQ
    // of the parent's cached normalized frame, unpivoted via stack (G1)
    val suppTasks = supps.map { case (p, source, configs, suppDomain) => () =>
      // a split dataset (LBCH) keys its SUPP-- on the parent domain: RDOMAIN
      // and the --SEQ IDVAR are LB's (SDTMIG 3.4 §4.1.7)
      val rdomain = baseDomainCode(p.code)
      val idCols = Seq("USUBJID", s"${rdomain}SEQ").filter(p.frame.columns.contains)
      // select ONLY the configured supp columns from the raw side: a
      // source that itself carries USUBJID/--SEQ columns must not
      // collide with the normalized ids on the join output
      val suppSrcCols = (configs.map(_._1)
        .filter(source.columns.contains)
        .filterNot(idCols.contains) :+ CsvIngest.RowIdCol).distinct
      val joined = source.select(suppSrcCols.map(sourceCol): _*).join(
        p.frame.select((idCols :+ CsvIngest.RowIdCol).map(col): _*),
        Seq(CsvIngest.RowIdCol))
      Reshape.buildSupp(rdomain, studyId, joined, configs).fold(Part(None, None)) { supp =>
        val path = s"$outDir/${suppDomain.name.toLowerCase(Locale.ROOT)}.xpt"
        val label = suppDomain.label.getOrElse(suppDomain.name)
        // one stats aggregate feeds both the XPT lengths and Define-XML,
        // as on the per-domain path
        val stats = XmlSinks.varStats(supp, supp.columns.toSeq)
        XptWriter.writeDataFrame(supp.orderBy("QNAM", "USUBJID", "IDVARVAL"), path,
          suppDomain.name, label,
          declaredLengths = stats.map { case (v, st) => v -> math.max(st.maxLength, 1) })
        // the define.xml must describe every dataset in the package —
        // variables limited to the frame, no CodeListRefs
        Part(Some(path), Some(XmlSinks.DefineDataset(
          name = suppDomain.name, domain = rdomain,
          label = label,
          structure = suppDomain.structure.getOrElse(""),
          klass = suppDomain.className.getOrElse("Relationship"),
          variables = suppDomain.variablesByRole
            .filter(v => supp.columns.contains(v.name)).map(xmlVariable(_, None)),
          stats = stats)))
      }
    }
    val parts =
      try StudySession.inParallel(spark, domainTasks ++ suppTasks)(_ => ())
      finally plans.foreach(_.frame.unpersist())

    // each codelist links to the CT publication it resolved from; the
    // distinct publications become the def:Standards section
    // (define_xml.rs:377-400: OID = STD.CT.{publishingSet}.{version})
    val ctStandards = scala.collection.mutable.LinkedHashMap[String, CtStandard]()
    val codelists = parts.flatMap(_.codelists).distinct.flatMap(code =>
      ct.getWithCatalog(code).map { case (cl, cat) =>
        val stdOid = for (set <- cat.publishingSet; ver <- cat.version) yield {
          val oid = s"STD.CT.${XmlSinks.sanitizeOid(set)}.${XmlSinks.sanitizeOid(ver)}"
          ctStandards.getOrElseUpdate(oid,
            CtStandard(oid, "CDISC/NCI", set, ver))
          oid
        }
        XmlCodelist(s"CL.$code", cl.name, cl.extensible,
          cl.terms.map(_.submissionValue).distinct, standardOid = stdOid)
      })
    val definePath = s"$outDir/define.xml"
    XmlSinks.writeDefineXmlFile(definePath, studyId, igVersion,
      parts.flatMap(_.define), codelists, ctStandards.values.toSeq)
    parts.flatMap(_.path) :+ definePath
  }

  /** One variable's Define-XML ItemDef: the same for domain and SUPP--
    * datasets, save the codelist reference SUPP-- never carries. */
  private def xmlVariable(v: SdtmVariable, codelistOid: Option[String]): XmlVariable =
    XmlVariable(v.name, v.label.getOrElse(""),
      isNumeric = v.dataType == VariableType.Num,
      required = v.isRequired, identifier = v.isIdentifier,
      expected = v.isExpected, codelistOid = codelistOid)
}

object StudySession {

  /** 2-letter SDTM parents whose datasets are commonly split into named
    * subsets (export/types.rs:60-66). */
  val SplitBases: Set[String] = Set("LB", "FA", "QS", "VS", "EG", "PC", "PP")

  /** Prefix of the job tag each [[inParallel]] call gives its tasks' Spark
    * jobs. */
  private[graft] val FanOutTagPrefix = "graft-fanout-"

  /** The session's one fan-out: run `tasks` on at most 8 threads and return
    * their results in input order. Every task tags its Spark jobs with the
    * call's one job tag. The first task to fail stops the rest BEFORE this
    * returns: the tagged jobs are cancelled, `shutdownNow` interrupts the
    * task threads, and a bounded drain waits for them, cancelling again
    * until they are gone and no tagged job has started for 250 ms — so no
    * sibling, and no Spark job of one, keeps writing into a directory the
    * caller may retry into. Every task that did complete has its result
    * passed to `abandon`, and the failure is rethrown as the task's own
    * exception (e.g. an XPT overflow error with its variable context), not
    * the pool's `ExecutionException` wrapper. */
  private def inParallel[A](spark: SparkSession, tasks: Seq[() => A])(
      abandon: A => Unit): Seq[A] = {
    val sc = spark.sparkContext
    val tag = FanOutTagPrefix + UUID.randomUUID()
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(tasks.size, 8)))
    val completion = new ExecutorCompletionService[A](pool)
    val futures = tasks.map(t => completion.submit { () =>
      sc.addJobTag(tag)
      try t() finally sc.removeJobTag(tag)
    })
    try {
      // completion order: a late task's failure surfaces without waiting
      // for the slow tasks queued before it
      futures.foreach(_ => completion.take().get())
      futures.map(_.get())
    } catch {
      case e: Throwable =>
        // cancel before the interrupt, so each task's wait ends with its
        // job. Then keep cancelling until the tasks are gone and no tagged
        // job has turned up for a quiet window: that stops a job submitted
        // after a cancel, one an interrupted thread submitted (its wait
        // returns at once and leaves the job running), and one from a
        // broadcast thread Spark forked for a task's query, whose body can
        // outlive that query's own cancel
        GraftBridge.cancelJobsWithTag(spark, tag)
        pool.shutdownNow()
        val quiet = TimeUnit.MILLISECONDS.toNanos(250)
        val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
        var quietSince = System.nanoTime()
        while (System.nanoTime() - quietSince < quiet && System.nanoTime() < deadline) {
          val cancelled = GraftBridge.cancelJobsWithTag(spark, tag)
          if (!pool.awaitTermination(20, TimeUnit.MILLISECONDS) || cancelled > 0)
            quietSince = System.nanoTime()
        }
        futures.foreach(f => if (f.isDone) scala.util.Try(abandon(f.get())))
        throw (e match { case x: ExecutionException => x.getCause; case _ => e })
    } finally pool.shutdown()
  }

  /** E1 — create a session from a folder + domain→file assignments
    * (`study.rs:27-153`). `standard` selects the implementation guide the
    * study is authored against: "sdtm" (default), "send", or "adam";
    * `ctVersion` pins the CT publication ([[graft.standards.Standards.CtVersions]]). */
  def create(spark: SparkSession, studyId: String, folder: String,
      assignments: Map[String, String], headerRows: Int = 1,
      standard: String = "sdtm",
      ctVersion: String = graft.standards.Standards.DefaultCtVersion): StudySession = {
    val s = new StudySession(spark, studyId, standard, ctVersion)
    // the per-domain builds (CSV scan, cache, hints aggregate, scoring)
    // are independent Spark jobs over different files — run them
    // concurrently, then publish in sorted-code order so domainCodes and
    // snapshot serialization are identical to a serial loop's. A failed
    // create abandons the session: the caller never receives `s`, so every
    // frame a finished build cached is unpersisted here
    inParallel(spark, assignments.toSeq.sortBy(_._1).map { case (code, file) =>
      () => s.buildDomainState(code, Paths.get(folder, file).toString, headerRows)
    })(_.source.unpersist()).foreach(s.publishDomain)
    s
  }
}
