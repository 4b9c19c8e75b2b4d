package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.PerfbenchShims
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.storage.StorageLevel

import graft.assemble.{ConceptAssembler, Mrsab, PropertyDocs}
import graft.model.OntologyJob
import graft.pipeline.{PipelineConfig, UmlsPipeline}
import graft.render.{OntologyRender, SemanticTypes}
import graft.sink.{OntologyWriter, UmlsExportConfig, WriteReport}
import graft.sources.{ConfManifest, UmlsSource}

/** Export benchmark runner: one JVM, one Spark session configured the way
  * `UmlsExportMain` configures it, repeated whole-manifest exports through
  * the public [[UmlsPipeline]] API.
  *
  * Usage:
  *   ExportBench --lake DIR --conf FILE --work DIR --result FILE
  *       --seconds S --trace 0|1 --parallel K [--shared-scan]
  *   ExportBench --lake DIR --conf FILE --work DIR --result FILE --setup-only
  *
  * `--setup-only` sets up once and exits; the build runs it to record the
  * class-data archive the timed runs start from.
  *
  * Each run sets up (session up, lake registered) 1 + [[ExportBench.SetUps]]
  * times, times the process's first export (the warm-up), then times warm
  * exports until `--seconds` have passed and at least
  * [[ExportBench.MinExports]] were made, each into a fresh output
  * directory. Every
  * export's files are hashed; only the first export's directory is kept,
  * for the caller's ground-truth check. With `--trace 1` the window
  * alternates untraced exports with traced ones (see [[Traced]]).
  *
  * The result file is a JSON object with the set-up time and one record per
  * export; statistics and correctness verdicts are the caller's.
  */
object ExportBench {

  val UmlsVersion = "2025AA"
  private val FatTables = Set("MRCONSO", "MRREL", "MRDEF", "MRSAT")
  private val AllTables = Seq("MRCONSO", "MRREL", "MRDEF", "MRSAT", "MRRANK",
    "MRSTY", "MRSAB", "MRDOC")

  final case class Opts(lake: String, conf: String, work: File, result: File,
      seconds: Double, trace: Boolean, parallel: Int, sharedScan: Boolean,
      setupOnly: Boolean)

  private def parse(args: Array[String]): Opts = {
    def opt(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }
    def req(name: String): String =
      opt(name).getOrElse(throw new IllegalArgumentException(s"missing $name"))
    Opts(
      lake = req("--lake"), conf = req("--conf"), work = new File(req("--work")),
      result = new File(req("--result")),
      seconds = opt("--seconds").fold(10.0)(_.toDouble),
      trace = opt("--trace").contains("1"),
      parallel = opt("--parallel").fold(1)(_.toInt),
      sharedScan = args.contains("--shared-scan"),
      setupOnly = args.contains("--setup-only"))
  }

  /** Timed set-ups per run. The process's first set-up (from JVM start)
    * mostly loads classes and is recorded on its own; each timed one stops
    * the session and builds a new one in the same JVM. */
  val SetUps = 3

  /** Exports after the first one that every run makes, whatever
    * `--seconds` says: the timed figures are medians over them. */
  val MinExports = 2

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var (spark, source) = setUp(o)
    val coldSetupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    if (o.setupOnly) { spark.stop(); return }
    val setups = (1 to SetUps).map { _ =>
      spark.stop()
      val t0 = System.nanoTime()
      val (s, src) = setUp(o)
      spark = s; source = src
      (System.nanoTime() - t0) / 1e9
    }
    try {
      val json = new ExportBench(spark, source, o).run(coldSetupS, setups)
      Files.write(o.result.toPath, json.getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  /** The session exactly as `UmlsExportMain` builds it (AQE on, UI off,
    * shuffle partitions `max(cores, 4)`, `local[k]`), plus scratch
    * directories kept inside the work directory; then the lake: the RRF
    * source with each of the eight tables resolved once. */
  private def setUp(o: Opts): (SparkSession, UmlsSource) = {
    val k = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .appName(s"umls-export-$UmlsVersion")
      .master(s"local[$k]")
      .config("spark.sql.shuffle.partitions", math.max(k, 4))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(o.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir",
        new File(o.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val source = UmlsSource.rrf(spark, o.lake)
    AllTables.foreach(t => source.table(t))
    (spark, source)
  }

  // ---- process-wide counters -------------------------------------------

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs: Long = os.getProcessCpuTime
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  /** Bytes of JIT-compiled code held in the code cache. */
  def codeCacheBytes: Long = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private val threads = ManagementFactory.getThreadMXBean
  def threadCpuNs: Long = threads.getCurrentThreadCpuTime

  /** (steal, total) jiffies of all CPUs from `/proc/stat`, or (0, 0) where
    * it cannot be read; only annotates the run log. */
  def stealJiffies: (Long, Long) = Try {
    val cpu = new String(Files.readAllBytes(Paths.get("/proc/stat")),
      StandardCharsets.US_ASCII).linesIterator.next().split("\\s+").drop(1)
      .map(_.toLong)
    (cpu(7), cpu.sum)
  }.getOrElse((0L, 0L))

  def sha256(f: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(f.toPath)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map(b => f"$b%02x").mkString
  }

  def deleteTree(f: File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteTree)
    f.delete(); ()
  }
}

/** Task counters of one Spark job, filled by [[JobRecorder]]. */
final class JobStats(val jobId: Int, val group: String, val name: String,
    val startMs: Long) {
  @volatile var endMs: Long = startMs
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var spillBytes = 0L
}

/** Listener that keeps per-job task counters and the job group each job
  * was submitted under (the benchmark sets one group per span). */
final class JobRecorder extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.map(_.getProperty("spark.jobGroup.id")).orNull
    val name = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    jobs.put(e.jobId, new JobStats(e.jobId, group, name, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    if (m != null) j.foreach { s =>
      s.synchronized {
        s.tasks += 1
        s.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def maxJobId: Int =
    if (jobs.isEmpty) -1 else jobs.keySet().asScala.max

  def jobsAfter(jobId: Int): Seq[JobStats] =
    jobs.values().asScala.filter(_.jobId > jobId).toSeq.sortBy(_.jobId)
}

/** Peak of the heap held in Spark's storage memory (see
  * [[PerfbenchShims.storageMemoryUsed]]) while a window is open, sampled
  * every millisecond. Execution memory is left out: it is taken in whole
  * pages (32 MB here), so its peak jumps between runs of the same export. */
final class StoragePeak {
  @volatile private var open = false
  @volatile private var peak = 0L
  private val sampler = new Thread("perfbench-storage-memory") {
    override def run(): Unit = while (true) {
      if (open) {
        val used = PerfbenchShims.storageMemoryUsed()
        if (used > peak) peak = used
      }
      Thread.sleep(if (open) 1 else 20)
    }
  }
  sampler.setDaemon(true)
  sampler.start()

  def start(): Unit = { peak = 0L; open = true }
  def stop(): Long = { open = false; peak }
}

final class ExportBench(spark: SparkSession, source: UmlsSource,
    o: ExportBench.Opts) {
  import ExportBench._

  private val sc = spark.sparkContext
  private val recorder = new JobRecorder
  sc.addSparkListener(recorder)
  private val storage = new StoragePeak
  private val jobs: Seq[OntologyJob] = ConfManifest.parseFile(o.conf)
  private val exportConf = UmlsExportConfig(umlsVersion = UmlsVersion)
  private var nextIndex = 0

  private def pipelineConfig(out: File) = PipelineConfig(
    outputDir = out.getPath, workDir = s"${out.getPath}/.state",
    exportConf = exportConf, parallelism = o.parallel,
    sharedScan = o.sharedScan)

  def run(coldSetupS: Double, setups: Seq[Double]): String = {
    val records = mutable.Buffer.empty[String]
    records += measure("first", traced = false)
    // The first export is the warm-up. The JIT does not settle within a
    // run (it still compiles 10-20 CPU-seconds per export after five
    // exports), so every run times the same points of the warm-up curve:
    // the process's second export onwards, at least MinExports of them.
    val kinds = if (o.trace) Seq("timed", "traced") else Seq("timed")
    val t0 = System.nanoTime()
    var n = 0
    while (n < MinExports || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      val kind = kinds(n % kinds.size)
      records += measure(kind, traced = kind == "traced")
      n += 1
    }
    Json.obj(
      "cold_setup_s" -> coldSetupS,
      "setup_s" -> Json.Raw(setups.mkString("[", ", ", "]")),
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "exports" -> Json.Raw(records.mkString("[", ",\n", "]")))
  }

  /** Wait until the JIT has finished no compilation for 200 ms (at most
    * 5 s), so that an export does not start under the compile backlog the
    * previous one left; returns the seconds waited. */
  private def awaitJitQuiet(): Double = {
    val t0 = System.nanoTime()
    var last = jitMs
    var quietSince = t0
    while (System.nanoTime() - quietSince < 200000000L &&
        System.nanoTime() - t0 < 5000000000L) {
      Thread.sleep(20)
      val now = jitMs
      if (now != last) { last = now; quietSince = System.nanoTime() }
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** One export into a fresh directory, with its process-wide cost. */
  private def measure(kind: String, traced: Boolean): String = {
    val idx = nextIndex
    nextIndex += 1
    val out = new File(o.work, f"exp_$idx%03d")
    System.gc() // every export starts from the same collected heap
    val jitWait = awaitJitQuiet()
    PerfbenchShims.drainListenerBus(sc)
    val job0 = recorder.maxJobId
    val cpu0 = processCpuNs; val jit0 = jitMs; val gc0 = gcMs
    val cg0 = CodeGenerator.compileTime
    val cgn0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    storage.start()
    val (steal0, total0) = stealJiffies
    val t0 = System.nanoTime()
    val outcome = Try {
      if (traced) new Traced(out).run()
      else (new UmlsPipeline(spark, source, jobs, pipelineConfig(out)).run(),
        Json.obj())
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (processCpuNs - cpu0) / 1e9
    val jit = (jitMs - jit0) / 1e3
    val gc = (gcMs - gc0) / 1e3
    val codegenS = (CodeGenerator.compileTime - cg0) / 1e9
    val codegenN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgn0
    val storagePeak = storage.stop()
    val (steal1, total1) = stealJiffies
    val stealPct = 100.0 * (steal1 - steal0) / math.max(1L, total1 - total0)
    PerfbenchShims.drainListenerBus(sc)
    val window = recorder.jobsAfter(job0)

    val hashes = Option(out.listFiles()).toSeq.flatten
      .filter(_.isFile).sortBy(_.getName)
      .map(f => f.getName -> Json.str(sha256(f)))
    if (idx > 0) deleteTree(out)
    val (reports, layers) = outcome match {
      case Success((r, l)) => (r, l)
      case Failure(_) => (Nil, Json.obj())
    }
    Json.obj(
      "index" -> idx, "kind" -> Json.str(kind),
      "error" -> outcome.failed.toOption.fold("null")(e => Json.str(e.toString)),
      "wall_s" -> wall, "cpu_s" -> cpu, "jit_s" -> jit, "gc_s" -> gc,
      "codegen_s" -> codegenS, "codegen_compiles" -> codegenN,
      "jit_wait_s" -> jitWait, "steal_pct" -> stealPct,
      "code_cache_mb" -> codeCacheBytes / 1e6,
      "storage_peak_mb" -> storagePeak / 1e6,
      "shuffle_mb" -> window.map(_.shuffleWriteBytes).sum / 1e6,
      "jobs" -> window.size, "tasks" -> window.map(_.tasks).sum,
      "dir" -> Json.str(out.getPath),
      "reports" -> Json.Raw(reports.map(r => Json.obj(
        "sab" -> Json.str(r.sab), "file" -> Json.str(new File(r.path).getName),
        "terms" -> r.terms, "errors" -> r.errors)).mkString("[", ",", "]")),
      "hashes" -> Json.obj(hashes: _*),
      "layers" -> Json.Raw(layers))
  }

  // ---- traced export ----------------------------------------------------

  /** One open interval of a span; `parent` is 0 for the root. */
  final class Span(val id: Long, val parent: Long, val name: String,
      val startNs: Long, val cpu0: Long) {
    var endNs = 0L
    var cpuNs = 0L
  }

  /** A traced export. `UmlsPipeline.run` is a fixed sequence of public
    * calls (validate source, semantic types, MRDOC pivot, one
    * `OntologyWriter.write` per manifest entry on a pool of `parallelism`
    * threads, validate output); this makes the same calls from here so
    * that each gets a span, and each span sets a Spark job group so the
    * listener attributes every job to the span that launched it.
    *
    * To split the per-SAB work into layers, each layer's output is
    * materialized inside its own span: the fat source tables on first use
    * (`sources.scan`), `ConceptAssembler.assembled` (`assemble.spine`) and
    * `conceptsColumnsTry` (`assemble.finish`). `OntologyWriter.write` then
    * plans the same frames and reads them from Spark's cache, so what it
    * still runs is the render job (the job materializing the rendered
    * rows, recognised by its `localCheckpoint` call site) and the global
    * sort and file write (the sink's self time). The materializations cost
    * time an untraced export does not spend; the run reports that as the
    * tracing overhead. */
  final class Traced(out: File) {
    private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
    private val ids = new java.util.concurrent.atomic.AtomicLong(0)
    private val current = new ThreadLocal[Span]
    private val nsOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
    private val codes = new java.util.concurrent.atomic.AtomicLong(0)
    private val sharedCacheBytes = new java.util.concurrent.atomic.AtomicLong(0)

    private def span[T](name: String)(body: => T): T = {
      val p = current.get
      val s = new Span(ids.incrementAndGet(), if (p == null) 0 else p.id, name,
        System.nanoTime(), threadCpuNs)
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      current.set(s)
      sc.setJobGroup(s"perfbench-${s.id}", name)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.cpuNs = threadCpuNs - s.cpu0
        spans.add(s)
        current.set(p)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevDesc)
      }
    }

    /** Run `body` on this thread as a child of `parent`. */
    private def under[T](parent: Span)(body: => T): T = {
      current.set(parent)
      try body finally current.remove()
    }

    /** The source every traced call reads through: the fat tables are
      * materialized on first use inside a `sources.scan` span — the raw
      * RRF table in direct mode, the manifest-wide cache under
      * `--shared-scan`. Small tables pass through. */
    private val inner: UmlsSource =
      if (o.sharedScan) UmlsSource.sharedScan(source, jobs.map(_.sab)) else source
    private val scanned = new ConcurrentHashMap[String, DataFrame]()
    private val tracedSource: UmlsSource = new UmlsSource {
      def table(name: String): DataFrame = {
        val key = name.toUpperCase
        if (!FatTables(key)) inner.table(name)
        else scanned.computeIfAbsent(key, _ => span("sources.scan") {
          val df = inner.table(name)
          val cached = if (o.sharedScan) df
            else df.persist(StorageLevel.MEMORY_AND_DISK)
          cached.count()
          if (o.sharedScan) sharedCacheBytes.addAndGet(cachedBytes(cached))
          cached
        })
      }
    }

    private def cachedBytes(df: DataFrame): Long =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.withCachedData.collectFirst {
          case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
            r.cacheBuilder.sizeInBytesStats.value.longValue
        }.getOrElse(0L)

    def run(): (Seq[WriteReport], String) = {
      val config = pipelineConfig(out)
      val pipeline = new UmlsPipeline(spark, source, jobs, config)
      val t0 = System.nanoTime()
      val reports = try span("pipeline.run") {
        val root = current.get
        val (semTypes, docs) = span("pipeline.prelude") {
          pipeline.validateSource()
          val mrsty = tracedSource.table("MRSTY")
          val styUrl = exportConf.baseUri + "STY/"
          out.mkdirs()
          Files.write(Paths.get(s"${out.getPath}/umls_semantictypes.ttl"),
            (OntologyRender.Prefixes + SemanticTypes.generate(mrsty, styUrl,
              withRoots = true)).getBytes(StandardCharsets.UTF_8))
          val semTypes =
            if (exportConf.includeSemanticTypes)
              SemanticTypes.generate(mrsty, styUrl, withRoots = false)
            else ""
          (semTypes, PropertyDocs.collectMap(tracedSource.table("MRDOC")))
        }
        def exportOne(job: OntologyJob): WriteReport = under(root) {
          val (assembler, spine) = span("assemble.spine") {
            val rec = Mrsab.orEmpty(Mrsab.record(tracedSource, job.sab))
            val lat = rec.lat.getOrElse(throw new IllegalStateException(
              s"No LAT found in MRSAB for ontology ${job.sab}")).toLowerCase
            val a = new ConceptAssembler(spark, tracedSource, job.sab,
              loadOnCuis = job.loadOnCuis, lang = lat)
            val ds = a.assembled(exportConf.strict)
              .persist(StorageLevel.MEMORY_AND_DISK)
            codes.addAndGet(ds.count())
            (a, ds)
          }
          val finished = span("assemble.finish") {
            val f = assembler.conceptsColumnsTry(exportConf.strict)
              .persist(StorageLevel.MEMORY_AND_DISK)
            f.count()
            f
          }
          try span("sink") {
            OntologyWriter.write(spark, tracedSource, job, exportConf,
              s"${out.getPath}/${job.outFile}", docs, semTypes)
          } finally {
            finished.unpersist()
            spine.unpersist()
            assembler.unpersistShared()
          }
        }
        val reports =
          if (o.parallel <= 1) jobs.map(exportOne)
          else {
            val pool = java.util.concurrent.Executors.newFixedThreadPool(o.parallel)
            implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
            try Await.result(
              Future.sequence(jobs.map(j => Future(exportOne(j)))), Duration.Inf)
            finally pool.shutdown()
          }
        pipeline.validateOutput(reports)
        reports
      } finally {
        inner match {
          case s: UmlsSource.SharedScanSource => s.release()
          case _ => ()
        }
        scanned.values().forEach { df => df.unpersist(); () }
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      PerfbenchShims.drainListenerBus(sc)
      (reports, layers(reports, wallS))
    }

    /** Length of the union of `ivs`, clipped to [lo, hi]. */
    private def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
      var total = 0L
      var reach = lo
      ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foreach { case (a, b) =>
          val from = math.max(a, reach)
          if (b > from) { total += b - from; reach = b }
        }
      total
    }

    private def layers(reports: Seq[WriteReport], wallS: Double): String = {
      val all = spans.asScala.toSeq
      val byGroup = recorder.jobsAfter(-1).filter(j =>
        j.group != null && j.group.startsWith("perfbench-"))
        .groupBy(j => j.group.stripPrefix("perfbench-").toLong)
      def jobsOf(s: Span) = byGroup.getOrElse(s.id, Nil)
      def isRender(j: JobStats) = j.name.startsWith("localCheckpoint")
      def jobIv(j: JobStats) =
        (j.startMs * 1000000L - nsOffset, j.endMs * 1000000L - nsOffset)
      val kids = all.groupBy(_.parent)
      def selfNs(s: Span): Long = {
        val ivs = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)) ++
          (if (s.name == "sink") jobsOf(s).filter(isRender).map(jobIv) else Nil)
        (s.endNs - s.startNs) - covered(ivs, s.startNs, s.endNs)
      }
      def named(n: String) = all.filter(_.name == n)
      def selfS(n: String) = named(n).map(selfNs).sum / 1e9
      def jobsIn(n: String) = named(n).flatMap(jobsOf)
      def cpuS(js: Seq[JobStats]) = js.map(_.cpuNs).sum / 1e9
      def mb(b: Long) = b / 1e6
      val sinkJobs = jobsIn("sink")
      val renderJobs = sinkJobs.filter(isRender)
      val sortJobs = sinkJobs.filterNot(isRender)
      val renderNs = named("sink").map { s =>
        covered(jobsOf(s).filter(isRender).map(jobIv), s.startNs, s.endNs)
      }.sum
      val files = reports.map(r => new File(r.path)).filter(_.isFile)
      val termBytes = files.map(termBlockBytes).sum
      val spineJobs = jobsIn("assemble.spine")
      val finishJobs = jobsIn("assemble.finish")
      val scanJobs = jobsIn("sources.scan")
      val selfSum = all.map(selfNs).sum / 1e9 + renderNs / 1e9
      Json.obj(
        "wall_s" -> wallS,
        "self_sum_s" -> selfSum,
        "sources.scan_s" -> selfS("sources.scan"),
        "sources.scan_cpu_s" -> cpuS(scanJobs),
        "sources.rows_read" -> scanJobs.map(_.inputRecords).sum,
        "sources.input_mb" -> mb(scanJobs.map(_.inputBytes).sum),
        "sources.shared_cache_mb" -> mb(sharedCacheBytes.get),
        "assemble.spine_s" -> selfS("assemble.spine"),
        "assemble.spine_cpu_s" -> cpuS(spineJobs),
        "assemble.spine_shuffle_mb" -> mb(spineJobs.map(_.shuffleWriteBytes).sum),
        "assemble.spill_mb" -> mb((spineJobs ++ finishJobs).map(_.spillBytes).sum),
        "assemble.codes" -> codes.get,
        "assemble.finish_s" -> selfS("assemble.finish"),
        "assemble.finish_cpu_s" -> cpuS(finishJobs),
        "render.render_s" -> renderNs / 1e9,
        "render.render_cpu_s" -> cpuS(renderJobs),
        "render.terms" -> reports.map(_.terms).sum,
        "render.out_mb" -> mb(termBytes),
        "sink.write_s" -> selfS("sink"),
        "sink.driver_cpu_s" -> named("sink").map(_.cpuNs).sum / 1e9,
        "sink.sort_shuffle_mb" -> mb(sortJobs.map(_.shuffleWriteBytes).sum),
        "sink.files" -> files.size,
        "sink.out_mb" -> mb(files.map(_.length).sum),
        "pipeline.prelude_s" -> selfS("pipeline.prelude"),
        "pipeline.self_s" -> selfS("pipeline.run"))
    }

    /** Bytes of the class terms in one ontology file: from the end of the
      * ontology header to the start of the property block. */
    private def termBlockBytes(f: File): Long = {
      val text = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      val header = text.indexOf("a owl:Ontology")
      val from = text.indexOf(" .\n\n", header) + 4
      val to = text.indexOf("umls:hasSTY a owl:ObjectProperty", from)
      if (header < 0 || to < 0) 0L
      else text.substring(from, to).getBytes(StandardCharsets.UTF_8).length.toLong
    }
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  final case class Raw(text: String)

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def value(v: Any): String = v match {
    case Raw(t) => t
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case s: String => s // already rendered
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ": " + value(v) }.mkString("{", ", ", "}")
}
