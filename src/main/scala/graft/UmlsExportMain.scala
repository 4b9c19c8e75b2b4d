package graft

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.pipeline.{PipelineConfig, UmlsPipeline}
import graft.sink.{UmlsExportConfig, WriteReport}
import graft.sources.{ConfManifest, UmlsSource}

/** The command-line export — what `python umls2rdf.py` is to the reference
  * (`umls2rdf.py:828-896`): read the UMLS tables, write one Turtle file
  * per `umls.conf` ontology plus `umls_semantictypes.ttl`, resumably.
  *
  * Usage:
  *   runMain graft.UmlsExportMain <sourceDir> <umls.conf> <outDir> <umlsVersion>
  *       [--strict] [--only-current] [--no-dedupe] [--shared-scan]
  *       [--master M]
  *
  * `--strict` fails on empty CODEs, ambiguous AUIs and unmapped languages,
  * and exits 1 when any ontology had a term error (without it, only an
  * ontology with errors and no terms exits 1);
  * `--only-current` skips ontologies whose MRSAB record is not the
  * current version; `--no-dedupe` keeps duplicate triples; `--master M`
  * sets the Spark master (default `local[*]`). The manifest's
  * load_on_codes and load_on_cuis ontologies export as two plans that
  * always run at once.
  *
  * `--shared-scan` reads each fat table once for the whole manifest
  * ([[graft.sources.UmlsSource.sharedScan]]) — the win for
  * many-small-SAB manifests; output bytes are identical either way.
  *
  * `sourceDir` may hold RRF pipe-delimited files (`MRCONSO.RRF`, …) or
  * parquet mirrors (`MRCONSO.parquet`, …) — detected by extension. The
  * reference's MySQL staging (S9) has no equivalent because none is
  * needed: Spark reads the release files directly with pushdown.
  */
object UmlsExportMain {

  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: UmlsExportMain <sourceDir> <umls.conf> <outDir> <umlsVersion>" +
          " [--strict] [--only-current] [--no-dedupe] [--shared-scan]" +
          " [--master M]")
      sys.exit(2)
    }
    val Array(sourceDir, confPath, outDir, version) = args.take(4)
    val flags = args.drop(4).toSeq
    val master = flags.sliding(2).collectFirst {
      case Seq("--master", m) => m
    }.getOrElse("local[*]")

    val spark = SparkSession.builder()
      .appName(s"umls-export-$version")
      .master(master)
      .config("spark.sql.shuffle.partitions",
        math.max(Runtime.getRuntime.availableProcessors(), 4))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // Generated classes are cached per (code, class loader), and local
      // mode runs driver and executor code under different loaders, so
      // one export needs ~120 entries: at the default of 100 every export
      // recompiled its plans.
      .config("spark.sql.codegen.cache.maxEntries", 1000)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    try {
      val source =
        if (new File(s"$sourceDir/MRCONSO.RRF").exists())
          UmlsSource.rrf(spark, sourceDir)
        else UmlsSource.parquet(spark, sourceDir)
      val jobs = ConfManifest.parseFile(confPath)
      val config = PipelineConfig(
        outputDir = outDir,
        workDir = s"$outDir/.state",
        exportConf = UmlsExportConfig(
          umlsVersion = version,
          dedupeTriples = !flags.contains("--no-dedupe"),
          processOnlyCurrentVersion = flags.contains("--only-current"),
          strict = flags.contains("--strict")),
        sharedScan = flags.contains("--shared-scan"))
      val reports = new UmlsPipeline(spark, source, jobs, config).run()
      reports.foreach { r =>
        val status =
          if (r.resumed) "skipped (done in a previous run)"
          else if (r.skipped) "skipped (not the current version)"
          else s"${r.terms} terms, ${r.errors} errors, " +
            s"dups(lit=${r.dupLiteral} obj=${r.dupObject} sub=${r.dupSubclass})"
        println(s"[export] ${r.sab} -> ${r.path}: $status")
      }
      val code = exitCode(reports, flags.contains("--strict"))
      if (code != 0) sys.exit(code)
    } finally spark.stop()
  }

  /** 1 when a SAB wrote no terms and had errors, or, under `--strict`,
    * when any SAB had a term error; 0 otherwise. */
  def exitCode(reports: Seq[WriteReport], strict: Boolean): Int =
    if (reports.exists(r =>
        !r.skipped && r.errors > 0 && (strict || r.terms == 0))) 1
    else 0
}
