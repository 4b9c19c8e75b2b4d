package graft.pipeline

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.assemble.PropertyDocs
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
    /** Concurrent per-ontology export jobs. The 35-SAB export is
      * embarrassingly parallel per ontology (independent inputs, one file
      * each); >1 lets Spark schedule the per-SAB jobs concurrently and
      * keep a cluster saturated while small SABs finish. */
    parallelism: Int = 1,
    /** Scan each fat table ONCE for the whole manifest
      * ([[graft.sources.UmlsSource.sharedScan]]) instead of once per SAB
      * — the win for many-small-SAB manifests, where N lake scans
      * dominate the per-SAB assembly work. Output bytes are identical
      * either way (spec-asserted). */
    sharedScan: Boolean = false)

/** The run-once export pipeline (`umls2rdf.py:828-896` +
  * `run_umls_pipeline.py`): validate source → semantic types → one
  * ontology file per manifest entry → validate output. Each step is
  * recorded in [[PipelineState]]; completed steps are skipped on re-run
  * (R1). Validation probes are R2 (`run_umls_pipeline.py:256-290`);
  * config checks are R4 (`:298-308`).
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
    new File(config.outputDir).mkdirs()
    new File(config.workDir).mkdirs()
  }

  private def step[T](name: String)(body: => T): Option[T] =
    // All state access under the pipeline lock: parallel export threads
    // write disjoint step names, but LinkedHashSet reads racing writes are
    // still undefined.
    if (synchronized(state.isDone(name))) None
    else {
      synchronized { executed += name; () }
      val r = body
      synchronized(state.markDone(name))
      Some(r)
    }

  /** R2 probe: required tables load and MRCONSO is non-empty
    * (`run_umls_pipeline.py:256-279`). */
  def validateSource(): Unit = {
    val required = Seq("MRCONSO", "MRREL", "MRDEF", "MRSAT", "MRRANK",
      "MRSTY", "MRSAB", "MRDOC")
    required.foreach(t => source.table(t).schema) // resolvable
    require(source.table("MRCONSO").limit(1).count() > 0,
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

  private def runSteps(): Seq[WriteReport] = {
    step("validate_source")(validateSource())

    // Semantic-types prelude (`umls2rdf.py:844-852`): standalone file with
    // roots; rootless variant appended to each ontology file. Both blocks
    // render from one collect of MRSTY's graph, made only if one is needed.
    lazy val sty = SemanticTypes.collect(effSource.table("MRSTY"))
    val styUrl = config.exportConf.baseUri + "STY/"
    val styFile = s"${config.outputDir}/umls_semantictypes.ttl"
    step("semantic_types") {
      val withRoots = SemanticTypes.render(sty, styUrl, withRoots = true)
      Files.write(Paths.get(styFile),
        (OntologyRender.Prefixes + withRoots).getBytes(StandardCharsets.UTF_8))
    }
    val semTypes =
      if (config.exportConf.includeSemanticTypes)
        SemanticTypes.render(sty, styUrl, withRoots = false)
      else ""

    // MRDOC pivot, shared across ontologies (`umls2rdf.py:853-864`).
    val docs = PropertyDocs.collectMap(effSource.table("MRDOC"))

    def exportOne(job: OntologyJob): WriteReport = {
      val outFile = s"${config.outputDir}/${job.outFile}"
      step(s"ontology:${job.sab}") {
        OntologyWriter.write(spark, effSource, job, config.exportConf, outFile,
          docs, semTypes)
      }.getOrElse(WriteReport(job.sab, outFile, 0, 0, 0, 0, 0,
        skipped = true, resumed = true)) // already produced in a previous run
    }
    val reports =
      if (config.parallelism <= 1) jobs.map(exportOne)
      else {
        // Per-SAB jobs are independent; a bounded pool submits them so
        // Spark's scheduler interleaves their stages.
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors
          .newFixedThreadPool(config.parallelism)
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutorService(pool)
        try Await.result(
          Future.sequence(jobs.map(j => Future(exportOne(j)))), Duration.Inf)
        finally pool.shutdown()
      }

    step("validate_output")(validateOutput(reports))
    reports
  }
}
