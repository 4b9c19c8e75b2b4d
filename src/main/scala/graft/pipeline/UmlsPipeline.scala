package graft.pipeline

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession

import graft.assemble.{PropertyDoc, PropertyDocs, ReleaseLookups}
import graft.model.OntologyJob
import graft.render.{OntologyRender, SemanticTypes}
import graft.sink.{OntologyWriter, UmlsExportConfig, WriteReport}
import graft.sources.UmlsSource

/** Resumable step state (R1, `run_umls_pipeline.py:21-31,74-99,311-358`):
  * a JSON set of completed step names, written atomically (temp + rename)
  * after every step so a killed run resumes where it stopped.
  */
final class PipelineState(path: String) {
  private val done = mutable.LinkedHashSet.empty[String] ++ load()

  private def load(): Seq[String] = {
    val f = new File(path)
    if (!f.exists()) Nil
    else {
      val text = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      // State is a flat {"done": ["step", ...]} — parse the string array.
      "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(
        text.dropWhile(_ != '['))
        .map(_.group(1).replaceAll("\\\\(.)", "$1")).toSeq
    }
  }

  def isDone(step: String): Boolean = done.contains(step)

  def markDone(step: String): Unit = {
    done += step
    val json = done.map(s => "\"" + s.replace("\\", "\\\\")
      .replace("\"", "\\\"") + "\"").mkString("{\"done\": [", ", ", "]}")
    val tmp = Paths.get(path + ".tmp")
    val parent = tmp.getParent
    if (parent != null) Files.createDirectories(parent)
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(path), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}

final case class PipelineConfig(
    outputDir: String,
    workDir: String,
    exportConf: UmlsExportConfig,
    /** Ignored: a manifest exports as one plan. Kept only for callers
      * built against the earlier option. */
    parallelism: Int = 1,
    /** Scan each fat table ONCE for the whole run
      * ([[graft.sources.UmlsSource.sharedScan]]) and cache it, instead
      * of once per read: the export plan reads MRCONSO and MRREL several
      * times (atoms, AUI resolution, the MeSH tree) and the run's lookups
      * read them too. Output bytes are identical either way
      * (spec-asserted). */
    sharedScan: Boolean = false)

/** The run-once export pipeline (`umls2rdf.py:828-896` +
  * `run_umls_pipeline.py`): validate source → the run's small lookups
  * (read once, concurrently) → semantic types → one ontology file per
  * manifest entry, the whole manifest exported by one plan → validate
  * output. Each step (each ontology its own) is recorded in
  * [[PipelineState]]; completed steps are skipped on re-run (R1); the
  * lookups are re-read by every run, so a rewritten lake is seen.
  * Validation probes are R2 (`run_umls_pipeline.py:256-290`); config
  * checks are R4 (`:298-308`).
  */
final class UmlsPipeline(
    spark: SparkSession,
    source: UmlsSource,
    jobs: Seq[OntologyJob],
    config: PipelineConfig) {

  /** Step names executed (not skipped) this run — exposed for resume tests. */
  val executed: mutable.Buffer[String] = mutable.Buffer.empty

  /** The source the export steps read through: the manifest-wide
    * shared-scan cache when enabled, else the raw source. The R2 probe
    * stays on the raw source — it validates the lake, not the cache. */
  private val effSource: UmlsSource =
    if (config.sharedScan) UmlsSource.sharedScan(source, jobs.map(_.sab))
    else source

  private val state = {
    validateConfig()
    new PipelineState(s"${config.workDir}/pipeline_state.json")
  }

  /** R4: fail fast on an unusable configuration. */
  private def validateConfig(): Unit = {
    require(config.exportConf.umlsVersion.nonEmpty, "umlsVersion must be set")
    require(config.exportConf.baseUri.nonEmpty, "baseUri must be set")
    require(jobs.nonEmpty, "manifest has no enabled ontologies")
    val sabs = jobs.map(_.sab)
    require(sabs.distinct.size == sabs.size,
      s"manifest lists a SAB twice: ${sabs.diff(sabs.distinct)}")
    new File(config.outputDir).mkdirs()
    new File(config.workDir).mkdirs()
  }

  private def step[T](name: String)(body: => T): Option[T] =
    if (state.isDone(name)) None
    else {
      executed += name
      val r = body
      state.markDone(name)
      Some(r)
    }

  /** R2 probe: required tables load and MRCONSO is non-empty
    * (`run_umls_pipeline.py:256-279`). */
  def validateSource(): Unit = {
    val required = Seq("MRCONSO", "MRREL", "MRDEF", "MRSAT", "MRRANK",
      "MRSTY", "MRSAB", "MRDOC")
    required.foreach(t => source.table(t).schema) // resolvable
    require(!source.table("MRCONSO").isEmpty,
      "MRCONSO is empty — source not loaded")
  }

  /** R2 probe: every expected output file exists and is non-empty
    * (`run_umls_pipeline.py:286-290`). Resume-skipped ontologies (produced
    * by an EARLIER run) are still expected on disk — a deleted/truncated
    * output fails here instead of passing silently; only the F18
    * version-gate skip (file deliberately not produced) is exempt. */
  def validateOutput(reports: Seq[WriteReport]): Unit =
    reports.filter(r => !r.skipped || r.resumed).foreach { r =>
      val f = new File(r.path)
      require(f.exists() && f.length() > 0, s"missing/empty output ${r.path}")
    }

  def run(): Seq[WriteReport] =
    try runSteps()
    finally effSource match {
      case s: UmlsSource.SharedScanSource => s.release()
      case _ => ()
    }

  /** The run's small lookups, read once and shared by every SAB's
    * export: the manifest's [[ReleaseLookups]], MRSTY's semantic-type
    * graph (only if a block of it is rendered) and the MRDOC pivot
    * (`umls2rdf.py:844-864`). They are independent, so each runs on its
    * own thread with its jobs labelled `graft:run:<lookup>`; a failed
    * lookup fails the run with its own exception. The wait is bounded:
    * the lookups finish in seconds on a healthy run, so a wedged one
    * fails the run instead of hanging it. */
  private def readLookups(needSty: Boolean)
      : (ReleaseLookups, Option[SemanticTypes.Graph], Map[String, PropertyDoc]) = {
    val pool = Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val sc = spark.sparkContext
    def lookup[T](name: String)(body: => T): Future[T] = Future {
      sc.setJobDescription(s"graft:run:$name")
      body
    }
    try {
      val release = lookup("release_lookups")(
        ReleaseLookups.load(effSource, jobs.map(_.sab)))
      val sty =
        if (needSty) lookup("semantic_types")(
          Some(SemanticTypes.collect(effSource.table("MRSTY"))))
        else Future.successful(None)
      val docs = lookup("property_docs")(
        PropertyDocs.collectMap(effSource.table("MRDOC")))
      Await.result(
        for (r <- release; s <- sty; d <- docs) yield (r, s, d), 30.minutes)
    } finally pool.shutdown()
  }

  private def runSteps(): Seq[WriteReport] = {
    step("validate_source")(validateSource())

    // Semantic-types prelude (`umls2rdf.py:844-852`): standalone file with
    // roots; rootless variant appended to each ontology file. Both blocks
    // render from one collect of MRSTY's graph, made only if one is needed.
    val includeSty = config.exportConf.includeSemanticTypes
    val (release, sty, docs) =
      readLookups(includeSty || !state.isDone("semantic_types"))
    val styUrl = config.exportConf.baseUri + "STY/"
    val styFile = s"${config.outputDir}/umls_semantictypes.ttl"
    step("semantic_types") {
      val withRoots = SemanticTypes.render(sty.get, styUrl, withRoots = true)
      Files.write(Paths.get(styFile),
        (OntologyRender.Prefixes + withRoots).getBytes(StandardCharsets.UTF_8))
    }
    val semTypes =
      if (includeSty) SemanticTypes.render(sty.get, styUrl, withRoots = false)
      else ""

    // One plan exports the manifest, load_on_codes and load_on_cuis SABs
    // alike. Resume stays per SAB: a SAB completed by an earlier run is
    // reported resumed, and each SAB is marked done as soon as its file
    // is published.
    val (done, pending) =
      jobs.partition(j => state.isDone(s"ontology:${j.sab}"))
    executed ++= pending.map(j => s"ontology:${j.sab}")
    val resumed = done.map(j => WriteReport(j.sab,
      s"${config.outputDir}/${j.outFile}", 0, 0, 0, 0, 0,
      skipped = true, resumed = true)) // produced by a previous run
    val written = OntologyWriter.writeGroup(spark, effSource,
      pending.map(j => j -> s"${config.outputDir}/${j.outFile}"),
      config.exportConf, s"${config.workDir}/parts", docs, semTypes, release,
      published = r => state.markDone(s"ontology:${r.sab}"))
    val bySab = (resumed ++ written).map(r => r.sab -> r).toMap
    val reports = jobs.map(j => bySab(j.sab))

    step("validate_output")(validateOutput(reports))
    reports
  }
}
