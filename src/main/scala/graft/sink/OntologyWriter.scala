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
import org.apache.spark.SparkContext
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.util.LongAccumulator

import graft.assemble.{ConceptAssembler, Mrsab, PropertyDoc, ReleaseLookups}
import graft.functions.TurtleFunctions.mapLang
import graft.model.{OntologyJob, RenderedTerm, TermProperty}
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

/** One rendered term of an export: its SAB's ordinal in the export's
  * group, its code and its Turtle text (NULL when the term failed). */
private[graft] final case class RenderedPart(
    sab_id: Int, code: String, text: String)

/** The columnar-finished concept row the sink consumes: the
  * [[graft.assemble.ConceptAssembler.finishedTry]] output —
  * the class's `sab_id`, [[graft.model.UmlsConceptRow]] fields and the
  * per-term finishing error (`__finish_err`, NULL on success) — plus
  * whether the group's MeSH tree has an edge (`has_tree`). */
private[sink] final case class FinishedRow(
    sab_id: Int, code: String, prefLabel: String,
    altLabels: Seq[String], defs: Seq[String], cuis: Seq[String],
    tuis: Seq[String], atts: Seq[graft.model.AttOut],
    rels: Seq[graft.model.RelOut], isRoot: Boolean,
    treeParents: Seq[String], __finish_err: String, has_tree: Boolean) {
  def toConceptRow: graft.model.UmlsConceptRow =
    graft.model.UmlsConceptRow(code, prefLabel, altLabels, defs, cuis,
      tuis, atts, rels, isRoot, treeParents)
}

/** One SAB's write counters (S6 term/error counts and the capped error
  * log, A11 duplicate-triple counts, the A15 property set), as
  * accumulators the render map adds to on the executors. */
private[graft] final class SabCounters(sc: SparkContext) extends Serializable {
  val terms: LongAccumulator = sc.longAccumulator("graft.terms")
  val errors: LongAccumulator = sc.longAccumulator("graft.errors")
  val dupLiteral: LongAccumulator = sc.longAccumulator("graft.dupLiteral")
  val dupObject: LongAccumulator = sc.longAccumulator("graft.dupObject")
  val dupSubclass: LongAccumulator = sc.longAccumulator("graft.dupSubclass")
  val errRows = new CappedErrorAccumulator(OntologyWriter.ErrorLogCap)
  sc.register(errRows, "graft.errRows")
  val properties = new MinMapAccumulator
  sc.register(properties, "graft.properties")

  def rendered(t: RenderedTerm): Unit = {
    terms.add(1L)
    dupLiteral.add(t.dupLiteral); dupObject.add(t.dupObject)
    dupSubclass.add(t.dupSubclass)
    t.properties.foreach(p => properties.add((p.uri, p.att)))
  }

  def failed(code: String, error: String): Unit = {
    errors.add(1L); errRows.add((code, error))
  }

  def report(sab: String, path: String): WriteReport =
    WriteReport(sab, path, terms.value, errors.value, dupLiteral.value,
      dupObject.value, dupSubclass.value)
}

/** The Turtle file sink (S5, `umls2rdf.py:745-789,888-893`): one ordered
  * UTF-8 file per ontology — prefixes, MRSAB-fed header, class terms,
  * property block, semantic types.
  *
  * Spark-first shape: one plan exports a whole manifest, its
  * `load_on_codes` and `load_on_cuis` SABs alike: assembly, finishing
  * and render run distributed; executors write each spine partition's
  * code-sorted terms as a part and the driver merges the parts by code
  * into one file per SAB, the output contract (one `.ttl` per SAB).
  * Term order is Spark's string order on code — the reference emits
  * dict-insertion order, unreproducible distributed (SURVEY.md §7.1.6);
  * intra-term bytes are reference-equal.
  */
object OntologyWriter {

  /** Max (code, error) pairs the writer ships to the driver for one SAB's
    * S6 error log; the total error COUNT stays exact past it. */
  private[sink] val ErrorLogCap = 1000

  /** Export one ontology as a group of one ([[writeGroup]]), its parts at
    * `<outFile>.parts`, reading its MRSAB record, MRRANK map and root CUIs
    * on their own ([[ReleaseLookups.forSab]]). */
  def write(
      spark: SparkSession,
      source: UmlsSource,
      job: OntologyJob,
      conf: UmlsExportConfig,
      outFile: String,
      propertyDocs: Map[String, PropertyDoc],
      semanticTypes: String): WriteReport =
    writeGroup(spark, source, Seq(job -> outFile), conf, outFile + ".parts",
      propertyDocs, semanticTypes, ReleaseLookups.forSab(source, job.sab)).head

  /** Export ontologies with ONE plan: `members` are `(job, output file)`
    * pairs, `load_on_codes` and `load_on_cuis` alike (each SAB is
    * assembled in its own mode); reports come back in `members` order.
    *
    * Per SAB, as for a lone export: the F18 version gate skips it
    * (`umls2rdf.py:881-887`) and reports it skipped, not published, so a
    * resumed run gates it again and never expects its file; its file is
    * published atomically on its own and then handed to `published` (the
    * pipeline's resume mark); the strict checks (`load_on_codes` SABs
    * only) and the error log cap apply per SAB. A SAB without an MRSAB
    * LAT (`umls2rdf.py:594-597`) fails the export before any file is
    * published. The parts live in `partsDir`, which is replaced by each
    * write and removed after it. */
  def writeGroup(
      spark: SparkSession,
      source: UmlsSource,
      members: Seq[(OntologyJob, String)],
      conf: UmlsExportConfig,
      partsDir: String,
      propertyDocs: Map[String, PropertyDoc],
      semanticTypes: String,
      lookups: ReleaseLookups,
      published: WriteReport => Unit = _ => ()): Seq[WriteReport] = {
    val recs = members.map(m => Mrsab.orEmpty(lookups.mrsab(m._1.sab)))
    val (live, gated) = members.zip(recs).partition { case (_, rec) =>
      !conf.processOnlyCurrentVersion || rec.isCurrentVersion(conf.umlsVersion)
    }
    val skipped = gated.map { case ((job, out), _) =>
      WriteReport(job.sab, out, 0, 0, 0, 0, 0, skipped = true)
    }
    // A killed run may have left its parts behind: they go
    // whether or not a member is left to write.
    val written = try {
      val lats = live.map { case ((job, _), rec) =>
        rec.lat.getOrElse(throw new IllegalStateException(
          s"No LAT found in MRSAB for ontology ${job.sab}")).toLowerCase
      }
      if (live.isEmpty) Nil
      else {
        val jobs = live.map(_._1._1)
        val assembler = ConceptAssembler.group(spark, source,
          jobs.zip(lats).map { case (job, lat) =>
            ConceptAssembler.Member(job.sab, lat, job.loadOnCuis)
          }, lookups)
        // MSH's config renders with its tree; [[rendered]] drops the tree
        // rules when the tree turns out to have no edge.
        val cfgs = jobs.zip(lats).map { case (job, lat) =>
          RenderConfig(
            ns = namespace(conf, job),
            lang = mapLang(lat, conf.strict),
            hasTree = job.sab == "MSH",
            dedupe = conf.dedupeTriples,
            styUrl = conf.baseUri + "STY/")
        }
        live.foreach { case ((_, out), _) =>
          val parent = new File(out).getParentFile
          if (parent != null) parent.mkdirs()
        }
        try writeParts(spark, assembler, cfgs.toIndexedSeq,
          live.map { case ((job, out), rec) => (job, out, rec) }, conf,
          partsDir, propertyDocs, semanticTypes, published)
        finally assembler.unpersistShared()
      }
    } finally removeTree(new File(partsDir))
    val bySab = (skipped ++ written).map(r => r.sab -> r).toMap
    members.map(m => bySab(m._1.sab))
  }

  private def namespace(conf: UmlsExportConfig, job: OntologyJob): String =
    conf.baseUri + job.altUri.getOrElse(job.sab) + "/"

  /** The export's rendered terms, each spine partition sorted by code.
    * S6 per-term error tolerance: finishing failures arrive as
    * `__finish_err` texts, and render runs under `Try`, so one bad term
    * cannot sink the file. The render map renders each class with its
    * SAB's config and counts it into its SAB's `counters` — a failed term
    * is counted and logged there, and leaves the map without text, so it
    * goes no further. A config that renders with the MeSH tree falls
    * back to its tree-less twin when the tree has no edge (the
    * reference's `if tree:`), a flag the plan computes with
    * [[ConceptAssembler.meshTreeExists]].
    *
    * Render runs inside the `groupBy(sab_id, code)` spine's own
    * partitions, and `sortWithinPartitions` orders each one locally:
    * there is no exchange above the spine, so each term is rendered
    * exactly once with no cut, and no output-sized shuffle; and the
    * counting map runs in the write job's RESULT stage, where Spark
    * applies a task's accumulator updates once regardless of
    * retries/speculation (below an exchange, stage retries would
    * double-count). The file's global code order comes from the driver's
    * merge of the sorted parts ([[mergeParts]]). Nothing is checkpointed:
    * a lost executor's partitions recompute by lineage. */
  private[graft] def rendered(assembler: ConceptAssembler,
      cfgs: IndexedSeq[RenderConfig], strict: Boolean,
      counters: IndexedSeq[SabCounters]): Dataset[RenderedPart] = {
    val treeless = cfgs.map(_.copy(hasTree = false))
    val renderOne: FinishedRow => RenderedPart = { f =>
      val counts = counters(f.sab_id)
      val cfg = if (f.has_tree) cfgs(f.sab_id) else treeless(f.sab_id)
      if (f.__finish_err != null) {
        counts.failed(f.code, f.__finish_err)
        RenderedPart(f.sab_id, f.code, null)
      } else Try(ConceptRenderer.render(f.toConceptRow, cfg)) match {
        case Success(t) =>
          counts.rendered(t)
          RenderedPart(f.sab_id, t.code, t.text)
        case Failure(e) =>
          counts.failed(f.code, s"${e.getClass.getSimpleName}: ${e.getMessage}")
          RenderedPart(f.sab_id, f.code, null)
      }
    }
    assembler.finishedTry(strict)
      .withColumn("has_tree", assembler.meshTreeExists)
      .as(Encoders.product[FinishedRow])
      .map(renderOne)(Encoders.product[RenderedPart])
      .filter(col("text").isNotNull)
      .sortWithinPartitions("code")
  }

  /** Row-group size of the parts: the driver's merge holds one row group
    * of every part at a time, so this bounds its memory per part. */
  private val PartRowGroupBytes = 8L << 20

  /** The write: executors write each partition's code-sorted
    * `(sab_id, code, text)` rows as one parquet part through Spark's file
    * writer (its commit protocol keeps task retries and speculation
    * safe); the driver then k-way merges the parts by code
    * ([[mergeParts]]), each term into its SAB's file. The driver never
    * iterates rows through Spark — counters, error log lines and the
    * property sets ride ACCUMULATORS on the write job itself, so the
    * whole export is ONE pass over the rendered terms — and it holds one
    * row group per part, not a partition of rendered text, so a
    * multi-GB single-SAB file costs it bounded memory.
    *
    * Crash-safe publish: each file is assembled at `<out>.tmp` and renamed
    * onto `<out>` atomically once complete, and every unpublished temp
    * file (here) and the parts ([[writeGroup]]) are removed whatever
    * happens — a failed write or merge leaves neither a partial final
    * file nor stale parts (a previous complete `<out>` survives it
    * untouched). Every header and property block is rendered before the
    * first temp file opens, so a SAB whose property block fails (J10)
    * publishes no file of the export. */
  private def writeParts(
      spark: SparkSession,
      assembler: ConceptAssembler,
      cfgs: IndexedSeq[RenderConfig],
      members: Seq[(OntologyJob, String, graft.assemble.MrsabRecord)],
      conf: UmlsExportConfig,
      partsDir: String,
      propertyDocs: Map[String, PropertyDoc],
      semanticTypes: String,
      published: WriteReport => Unit): Seq[WriteReport] = {
    val sc = spark.sparkContext
    val counters = members.map(_ => new SabCounters(sc)).toIndexedSeq
    val tmpFiles = members.map { case (_, out, _) => Paths.get(out + ".tmp") }
    try {
      // Codes and texts are unique per row, so neither column gains
      // anything from a dictionary.
      rendered(assembler, cfgs, conf.strict, counters)
        .write.mode("overwrite")
        .option("compression", "none")
        .option("parquet.enable.dictionary", "false")
        .option("parquet.block.size", PartRowGroupBytes.toString)
        .parquet(partsDir)

      val (heads, tails) = members.zip(counters).map {
        case ((job, _, rec), counts) =>
          val (errKept, errTotal) = counts.errRows.value
          errKept.foreach { t =>
            System.err.println(s"ERROR dumping term ${t._1}: ${t._2}")
          }
          if (errTotal > errKept.size)
            System.err.println(s"... and ${errTotal - errKept.size} more " +
              s"term errors (log capped at ${errKept.size}; full count in " +
              "the report)")
          // The property block sorts by URI, so first-seen order is
          // irrelevant; the min(att) merge makes the pick deterministic
          // (att and uri are 1:1 — the uri is built FROM the fragment).
          val props = counts.properties.value
            .map { case (uri, att) => TermProperty(uri, att) }.toSeq
          (OntologyRender.Prefixes +
            OntologyRender.header(namespace(conf, job), job.sab, rec,
              conf.umlsVersion),
            OntologyRender.propertyBlock(props, propertyDocs) +
              (if (conf.includeSemanticTypes) semanticTypes + "\n" else ""))
      }.unzip

      val outs = tmpFiles.map(t =>
        new BufferedOutputStream(new FileOutputStream(t.toFile), 1 << 16))
      try {
        def w(i: Int, s: String): Unit =
          outs(i).write(s.getBytes(StandardCharsets.UTF_8))
        heads.indices.foreach(i => w(i, heads(i)))
        mergeParts(new File(partsDir).listFiles()
          .filter(_.getName.startsWith("part-")).toSeq,
          sc.hadoopConfiguration, outs.toIndexedSeq)
        tails.indices.foreach(i => w(i, tails(i)))
      } finally outs.foreach(_.close())
      members.zip(tmpFiles).zip(counters).map {
        case (((job, out, _), tmp), counts) =>
          Files.move(tmp, Paths.get(out), StandardCopyOption.REPLACE_EXISTING,
            StandardCopyOption.ATOMIC_MOVE)
          val report = counts.report(job.sab, out)
          published(report)
          report
      }
    } finally tmpFiles.foreach(Files.deleteIfExists)
  }

  private def removeTree(f: File): Unit = {
    val kids = f.listFiles(); if (kids != null) kids.foreach(removeTree)
    f.delete(); ()
  }

  /** Stream the term texts of the code-sorted `(sab_id, code, text)`
    * parquet `parts` into their SABs' `outs` in global code order: a k-way
    * merge on the driver, no Spark job. Codes compare as unsigned UTF-8
    * bytes — the order of Spark's string sort and of
    * [[graft.functions.SqlFns.sparkStringOrder]] — and are never NULL
    * (the atom filter drops NULL codes). They are unique per SAB after
    * `groupBy(sab_id, code)`, so each file's order is total. */
  private def mergeParts(parts: Seq[File], hadoopConf: Configuration,
      outs: IndexedSeq[OutputStream]): Unit = {
    final class Cursor(reader: ParquetReader[Group]) {
      var sab: Int = _
      var code: Array[Byte] = _
      var text: Binary = _
      def advance(): Boolean = reader.read() match {
        case null => false
        case g =>
          sab = g.getInteger("sab_id", 0)
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
        c.text.writeTo(outs(c.sab))
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
