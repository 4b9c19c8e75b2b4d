package graft.sink

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.{Failure, Success, Try}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.col

import graft.assemble.{ConceptAssembler, Mrsab, PropertyDoc, ReleaseLookups}
import graft.functions.TurtleFunctions.mapLang
import graft.model.{OntologyJob, TermProperty}
import graft.render.{ConceptRenderer, OntologyRender, RenderConfig}
import graft.sources.UmlsSource

/** Export configuration mirroring `conf_sample.py:1-43`. */
final case class UmlsExportConfig(
    umlsVersion: String,
    baseUri: String = "http://purl.bioontology.org/ontology/",
    dedupeTriples: Boolean = true,
    includeSemanticTypes: Boolean = true,
    processOnlyCurrentVersion: Boolean = false,
    strict: Boolean = false)

/** Per-ontology write outcome: term/error counts (S6) and the duplicate-
  * triple counters (A11, `umls2rdf.py:763-787`). `skipped` alone means the
  * F18 version gate declined to produce the file (nothing to validate);
  * `skipped && resumed` means a previous run produced it — the output
  * check must still verify the file survives on disk. */
final case class WriteReport(
    sab: String, path: String, terms: Long, errors: Long,
    dupLiteral: Long, dupObject: Long, dupSubclass: Long,
    skipped: Boolean = false,
    resumed: Boolean = false)

/** One rendered-or-failed term (S6, `umls2rdf.py:764-771`): exactly one of
  * `text`/`error` is set. */
private[graft] final case class RenderResult(
    code: String, text: String, dupLiteral: Long, dupObject: Long,
    dupSubclass: Long, properties: Seq[TermProperty], error: String)

/** The columnar-finished concept row the sink consumes: the
  * [[graft.assemble.ConceptAssembler.conceptsColumnsTry]] output —
  * [[graft.model.UmlsConceptRow]] fields plus the per-term finishing
  * error (`__finish_err`, NULL on success). */
private[sink] final case class FinishedRow(
    code: String, prefLabel: String,
    altLabels: Seq[String], defs: Seq[String], cuis: Seq[String],
    tuis: Seq[String], atts: Seq[graft.model.AttOut],
    rels: Seq[graft.model.RelOut], isRoot: Boolean,
    treeParents: Seq[String], __finish_err: String) {
  def toConceptRow: graft.model.UmlsConceptRow =
    graft.model.UmlsConceptRow(code, prefLabel, altLabels, defs, cuis,
      tuis, atts, rels, isRoot, treeParents)
}

/** The Turtle file sink (S5, `umls2rdf.py:745-789,888-893`): one ordered
  * UTF-8 file per ontology — prefixes, MRSAB-fed header, class terms,
  * property block, semantic types.
  *
  * Spark-first shape: assembly, finishing and render run distributed;
  * executors write each spine partition's code-sorted term text as a
  * part and the driver merges the parts by code into the single file
  * that is the output contract (one `.ttl` per SAB). Term order is
  * Spark's string order on code — the reference emits dict-insertion
  * order, unreproducible distributed (SURVEY.md §7.1.6); intra-term
  * bytes are reference-equal.
  */
object OntologyWriter {

  /** Max (code, error) pairs the writer ships to the driver for the S6
    * error log; the total error COUNT stays exact past it. */
  private[sink] val ErrorLogCap = 1000

  /** Export one ontology, reading its MRSAB record, MRRANK map and root
    * CUIs on their own ([[ReleaseLookups.forSab]]). */
  def write(
      spark: SparkSession,
      source: UmlsSource,
      job: OntologyJob,
      conf: UmlsExportConfig,
      outFile: String,
      propertyDocs: Map[String, PropertyDoc],
      semanticTypes: String): WriteReport =
    write(spark, source, job, conf, outFile, propertyDocs, semanticTypes,
      ReleaseLookups.forSab(source, job.sab))

  /** Export one ontology with its small lookups taken from `lookups`, the
    * run's snapshot: the only Spark work left is the export itself. */
  def write(
      spark: SparkSession,
      source: UmlsSource,
      job: OntologyJob,
      conf: UmlsExportConfig,
      outFile: String,
      propertyDocs: Map[String, PropertyDoc],
      semanticTypes: String,
      lookups: ReleaseLookups): WriteReport = {

    val ns = conf.baseUri + job.altUri.getOrElse(job.sab) + "/"
    val rec = Mrsab.orEmpty(lookups.mrsab(job.sab))

    // F18 version gate (`umls2rdf.py:881-887`).
    if (conf.processOnlyCurrentVersion && !rec.isCurrentVersion(conf.umlsVersion))
      return WriteReport(job.sab, outFile, 0, 0, 0, 0, 0, skipped = true)

    // MRSAB.LAT is mandatory (`umls2rdf.py:594-597`).
    val lat = rec.lat.getOrElse(throw new IllegalStateException(
      s"No LAT found in MRSAB for ontology ${job.sab}")).toLowerCase

    val assembler = new ConceptAssembler(spark, source, job.sab,
      loadOnCuis = job.loadOnCuis, lang = lat, lookups = Some(lookups))
    // The reference's tree checks are TRUTHINESS tests (`if tree:`,
    // `umls2rdf.py:411,422,437`) — an MSH export whose D-tree query
    // returns zero edges renders tree-less (no MN-root rule). One
    // limit(1) probe per MSH export reproduces that.
    val hasTree = job.sab == "MSH" && !assembler.meshTree.isEmpty
    val cfg = RenderConfig(
      ns = ns,
      lang = mapLang(lat, conf.strict),
      // The reference's main loop INTENDS hierarchy=(sab != "MSH")
      // (`umls2rdf.py:889`), but `write_into` never forwards its
      // hierarchy parameter to `toRDF` (`umls2rdf.py:745,766`), so the
      // actual rendering always runs hierarchy=True and MSH's CHD
      // suppression comes solely from the tree (`umls2rdf.py:437-448`).
      // Proven byte-for-byte by ReferenceDifferentialSpec: with
      // hierarchy=false the engine emitted a `<ns/CHD>` OBJECT triple
      // for MSH CHD rels where the reference emits nothing.
      hierarchy = true,
      hasTree = hasTree,
      dedupe = conf.dedupeTriples,
      styUrl = conf.baseUri + "STY/")

    val parent = new File(outFile).getParentFile
    if (parent != null) parent.mkdirs()
    try writeParts(spark, rendered(assembler, cfg, conf.strict), job, rec, ns,
      conf, outFile, propertyDocs, semanticTypes)
    finally assembler.unpersistShared()
  }

  /** The export's rendered terms, each spine partition sorted by code.
    * S6 per-term error tolerance: finishing failures arrive as
    * `__finish_err` texts, and render runs under `Try`, so one bad term
    * cannot sink the file.
    *
    * Render runs inside the `groupBy(code)` spine's own partitions, and
    * `sortWithinPartitions` orders each one locally: there is no
    * exchange above the spine, so each term is rendered exactly once
    * with no cut, and no output-sized shuffle. The file's global code
    * order comes from the driver's merge of the sorted parts
    * ([[mergeParts]]). Nothing is checkpointed: a lost executor's
    * partitions recompute by lineage. */
  private[graft] def rendered(assembler: ConceptAssembler, cfg: RenderConfig,
      strict: Boolean): Dataset[RenderResult] = {
    val renderOne: FinishedRow => RenderResult = { f =>
      if (f.__finish_err != null)
        RenderResult(f.code, null, 0, 0, 0, Nil, f.__finish_err)
      else Try(ConceptRenderer.render(f.toConceptRow, cfg)) match {
        case Success(t) =>
          RenderResult(t.code, t.text, t.dupLiteral, t.dupObject,
            t.dupSubclass, t.properties, null)
        case Failure(e) =>
          RenderResult(f.code, null, 0, 0, 0, Nil,
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    assembler.conceptsColumnsTry(strict)
      .as(Encoders.product[FinishedRow])
      .map(renderOne)(Encoders.product[RenderResult])
      .sortWithinPartitions("code")
  }

  /** Row-group size of the parts: the driver's merge holds one row group
    * of every part at a time, so this bounds its memory per part. */
  private val PartRowGroupBytes = 8L << 20

  /** The write: executors write each partition's code-sorted
    * `(code, text)` rows as one parquet part through Spark's file writer
    * (its commit protocol keeps task retries and speculation safe); the
    * driver then k-way merges the parts by code ([[mergeParts]]) into the
    * single file that is the output contract. The driver never iterates
    * rows through Spark — counters, error log lines and the property set
    * ride ACCUMULATORS on the write job itself, so the whole export is
    * ONE pass over the rendered terms — and it holds one row group per
    * part, not a partition of rendered text, so a multi-GB single-SAB
    * file costs it bounded memory.
    *
    * Crash-safe publish: the file is assembled at `<out>.tmp` and renamed
    * onto `<out>` atomically once complete, and `<out>.parts` and the temp
    * file are removed whatever happens — a failed write or merge leaves
    * neither a partial final file nor stale parts (a previous complete
    * `<out>` survives it untouched).
    *
    * Exactly-once counters: with no exchange above the spine, the
    * accumulator map runs in the write job's RESULT stage — Spark
    * applies a result task's accumulator updates once regardless of
    * retries/speculation. (A map placed below an exchange would live in
    * a shuffle-map stage, where stage retries double-count.) */
  private def writeParts(
      spark: SparkSession,
      rendered: Dataset[RenderResult],
      job: OntologyJob, rec: graft.assemble.MrsabRecord, ns: String,
      conf: UmlsExportConfig, outFile: String,
      propertyDocs: Map[String, PropertyDoc],
      semanticTypes: String): WriteReport = {
    val sc = spark.sparkContext
    val terms = sc.longAccumulator("graft.terms")
    val errors = sc.longAccumulator("graft.errors")
    val dupL = sc.longAccumulator("graft.dupLiteral")
    val dupO = sc.longAccumulator("graft.dupObject")
    val dupS = sc.longAccumulator("graft.dupSubclass")
    val errRows = new CappedErrorAccumulator(ErrorLogCap)
    sc.register(errRows, "graft.errRows")
    val propAcc = new MinMapAccumulator
    sc.register(propAcc, "graft.properties")

    // Error rows reach the result-stage map so it can count them, then
    // drop out before the parts are written. Codes and texts are unique
    // per row, so neither column gains anything from a dictionary.
    val partsDir = outFile + ".parts"
    val tmpFile = Paths.get(outFile + ".tmp")
    try {
      rendered
        .map { r =>
          if (r.error != null) {
            errors.add(1L); errRows.add((r.code, r.error))
          } else {
            terms.add(1L)
            dupL.add(r.dupLiteral); dupO.add(r.dupObject)
            dupS.add(r.dupSubclass)
            r.properties.foreach(p => propAcc.add((p.uri, p.att)))
          }
          r
        }(Encoders.product[RenderResult])
        .filter(col("error").isNull)
        .select("code", "text")
        .write.mode("overwrite")
        .option("compression", "none")
        .option("parquet.enable.dictionary", "false")
        .option("parquet.block.size", PartRowGroupBytes.toString)
        .parquet(partsDir)

      val (errKept, errTotal) = errRows.value
      errKept.foreach { t =>
        System.err.println(s"ERROR dumping term ${t._1}: ${t._2}")
      }
      if (errTotal > errKept.size)
        System.err.println(s"... and ${errTotal - errKept.size} more term " +
          s"errors (log capped at ${errKept.size}; full count in the report)")
      // The property block sorts by URI, so first-seen order is
      // irrelevant; the min(att) merge makes the pick deterministic (att
      // and uri are 1:1 — the uri is built FROM the fragment).
      val props = propAcc.value
        .map { case (uri, att) => TermProperty(uri, att) }.toSeq

      val out = new BufferedOutputStream(
        new FileOutputStream(tmpFile.toFile), 1 << 16)
      try {
        def w(s: String): Unit =
          out.write(s.getBytes(StandardCharsets.UTF_8))
        w(OntologyRender.Prefixes)
        w(OntologyRender.header(ns, job.sab, rec, conf.umlsVersion))
        mergeParts(new File(partsDir).listFiles()
          .filter(_.getName.startsWith("part-")).toSeq,
          sc.hadoopConfiguration, out)
        w(OntologyRender.propertyBlock(props, propertyDocs))
        if (conf.includeSemanticTypes) { w(semanticTypes); w("\n") }
      } finally out.close()
      Files.move(tmpFile, Paths.get(outFile),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    } finally {
      def rm(f: File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      rm(new File(partsDir))
      Files.deleteIfExists(tmpFile)
    }
    WriteReport(job.sab, outFile, terms.value, errors.value,
      dupL.value, dupO.value, dupS.value)
  }

  /** Stream the term texts of the code-sorted `(code, text)` parquet
    * `parts` into `out` in global code order: a k-way merge on the
    * driver, no Spark job. Codes compare as unsigned UTF-8 bytes — the
    * order of Spark's string sort and of
    * [[graft.functions.SqlFns.sparkStringOrder]] — and are never NULL
    * (the atom filter drops NULL codes). They are unique per row after
    * `groupBy(code)`, so the order is total. */
  private def mergeParts(parts: Seq[File], hadoopConf: Configuration,
      out: OutputStream): Unit = {
    final class Cursor(reader: ParquetReader[Group]) {
      var code: Array[Byte] = _
      var text: Binary = _
      def advance(): Boolean = reader.read() match {
        case null => false
        case g =>
          code = g.getBinary("code", 0).getBytes
          text = g.getBinary("text", 0)
          true
      }
    }
    val byCode: java.util.Comparator[Cursor] =
      (a, b) => java.util.Arrays.compareUnsigned(a.code, b.code)
    val heap = new java.util.PriorityQueue[Cursor](math.max(1, parts.size),
      byCode)
    val readers = scala.collection.mutable.ArrayBuffer.empty[ParquetReader[Group]]
    try {
      parts.foreach { f =>
        val reader = ParquetReader.builder(new GroupReadSupport(),
          new Path(f.toURI)).withConf(hadoopConf).build()
        readers += reader
        val c = new Cursor(reader)
        if (c.advance()) heap.add(c)
      }
      while (!heap.isEmpty) {
        val c = heap.poll()
        c.text.writeTo(out)
        if (c.advance()) heap.add(c)
      }
    } finally readers.foreach(_.close())
  }
}

/** Capped collection accumulator for the per-term error log: keeps at
  * most `cap` (code, error) pairs plus the EXACT total count, so a
  * pathological export where most terms fail to render (S6
  * catch-and-continue) cannot balloon driver memory — the r9 unbounded
  * collectionAccumulator would have shipped every failing term's
  * message back to the driver. Which `cap` entries survive a
  * distributed run is arbitrary (task merge order); the count is not. */
private[sink] class CappedErrorAccumulator(cap: Int)
    extends org.apache.spark.util.AccumulatorV2[
      (String, String), (Seq[(String, String)], Long)] {
  private val kept =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  private val nKept = new java.util.concurrent.atomic.AtomicInteger(0)
  private val total = new java.util.concurrent.atomic.AtomicLong(0L)
  override def isZero: Boolean = total.get == 0L
  override def copy(): CappedErrorAccumulator = {
    val c = new CappedErrorAccumulator(cap)
    kept.forEach { t => if (c.nKept.getAndIncrement() < cap) c.kept.add(t) }
    c.total.set(total.get)
    c
  }
  override def reset(): Unit = { kept.clear(); nKept.set(0); total.set(0L) }
  override def add(v: (String, String)): Unit = {
    total.incrementAndGet()
    if (nKept.getAndIncrement() < cap) kept.add(v)
    else nKept.decrementAndGet() // keep the counter from overflowing
  }
  override def merge(other: org.apache.spark.util.AccumulatorV2[
      (String, String), (Seq[(String, String)], Long)]): Unit = other match {
    case o: CappedErrorAccumulator =>
      total.addAndGet(o.total.get)
      o.kept.forEach { t =>
        if (nKept.getAndIncrement() < cap) kept.add(t)
        else nKept.decrementAndGet()
      }
    case _ => throw new UnsupportedOperationException(
      s"cannot merge ${other.getClass}")
  }
  override def value: (Seq[(String, String)], Long) = {
    import scala.jdk.CollectionConverters._
    (kept.asScala.toSeq, total.get)
  }
}

/** Accumulator merging (uri → att) pairs with per-key MIN — the
  * deterministic first-seen-equivalent the property block needs (A15),
  * bounded by the ontology's distinct predicate count (small). */
private[sink] class MinMapAccumulator
    extends org.apache.spark.util.AccumulatorV2[
      (String, String), Map[String, String]] {
  private val m = new java.util.concurrent.ConcurrentHashMap[String, String]()
  override def isZero: Boolean = m.isEmpty
  override def copy(): MinMapAccumulator = {
    val c = new MinMapAccumulator
    m.forEach((k, v) => c.m.put(k, v))
    c
  }
  override def reset(): Unit = m.clear()
  override def add(kv: (String, String)): Unit =
    m.merge(kv._1, kv._2, (a, b) => if (a <= b) a else b)
  override def merge(other: org.apache.spark.util.AccumulatorV2[
      (String, String), Map[String, String]]): Unit =
    other.value.foreach { case (k, v) =>
      m.merge(k, v, (a, b) => if (a <= b) a else b)
    }
  override def value: Map[String, String] = {
    import scala.jdk.CollectionConverters._
    m.asScala.toMap
  }
}
