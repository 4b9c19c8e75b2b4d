package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every catalog query against
  * `SPARK_GRAFT_SF_DIR` and prints ONE SHORT JSON line on stdout
  * (`{"metric":"total","value":…,"queries":{…worst 5…}}`) — the harness
  * keeps only a 2,000-char stdout tail, and a 200-entry per-query map
  * (~8 KB) truncated mid-line has never parsed. Per-query progress goes to
  * stderr so the driver's stdout parse stays clean. The full per-query
  * map lands in `BENCH_DETAIL.json` (or `BENCH_DETAIL_r<N>.json` when
  * `SPARK_GRAFT_ROUND` is set; `SPARK_GRAFT_BENCH_DETAIL` overrides),
  * is DUAL-written to `BENCH_DETAIL_last.json` (the grading harness
  * rewrites the primary with a wall-only synthesis — r11 lost its
  * attribution fields that way), and every full-catalog run appends a
  * one-line summary to `BENCH_HISTORY.jsonl`. A committed
  * `PERF_PROFILE.json` (tools/make_perf_profile.py, from a quiet run at
  * HEAD) arms two self-inflation retry gates that the foreign-load gate
  * cannot cover: executor-scheduled seconds > 3× the quiet profile, and
  * a final-plan fingerprint outside the quiet-run set.
  *
  * Host-contention observability: every run records the 1-minute system
  * load average (before and after), `availableProcessors`, and a
  * per-query wall-clock start timestamp + load sample in the detail JSON.
  * Two rounds in a row the driver's shared-host bench ran 4–8× slower
  * than an idle-machine re-run at identical config; these fields make a
  * contended run self-diagnosing (load ≫ cores ⇒ inflated wall times).
  */
object Bench {
  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean

  /** Total stop-the-world GC milliseconds since JVM start, summed across
    * collectors. A per-query delta ≈ wall time is direct evidence of heap
    * thrash (distinct from host contention, which load average catches). */
  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** JVM process CPU nanoseconds (-1 if the platform bean is absent).
    * The per-query ratio cpu_sec/wall_sec is the decisive contention
    * metric: ≈ cores busy ⇒ the query genuinely computed that long;
    * ≪ 1 core ⇒ the process was starved by OTHER load on the host, and
    * the wall time says nothing about the engine. */
  private def cpuNanos: Long = osBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => -1L
  }

  /** Locale-stable float format: f"" interpolators use the JVM default
    * locale, which under e.g. de_DE emits comma decimals and breaks the
    * JSON. */
  private def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Host-wide (steal, iowait) ticks from the `/proc/stat` aggregate
    * cpu line — the contention signal loadavg under-reports (VERDICT
    * r13 #7): cgroup/co-tenant steal inflates exec_run_sec at foreign
    * load ≈ 0, the exact signature of the r13 all-samples-inflated
    * entries. Sampled around each run; the per-sample delta (seconds at
    * USER_HZ = 100) lands in the detail JSON so exec_inflated picks are
    * attributable from the artifact alone. (-1, -1) where /proc/stat is
    * unreadable. */
  private def procStatStealIowait(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        src.getLines().find(_.startsWith("cpu "))
          .map(_.trim.split("\\s+"))
          // cpu user nice system idle iowait irq softirq steal ...
          .filter(_.length > 8)
          .map(f => (f(8).toLong, f(5).toLong))
          .getOrElse((-1L, -1L))
      } finally src.close()
    } catch { case _: Throwable => (-1L, -1L) }

  /** Retry-pass sample pick, r14 policy (VERDICT r13 #1). Health class
    * first — (exec-inflated, foreign-contended), false beats true —
    * then WALL within an equal class, foreign load last. The r13 key
    * ranked foreign ABOVE wall, and when EVERY sample tripped the
    * inflation gate (q37 driver window: exec 13.7/34.3/54.0 s vs quiet
    * 3.3) the foreign tiebreak picked the 64.3 s wall over the 14.1 s
    * one — foreign load only ranks ACROSS health classes; within one it
    * is uninformative (both ≈ 0 under self-inflation, as the adjacent
    * comment already argued). Tuple per sample:
    * (inflated, contended, wall, foreign). */
  private[graft] def pickSampleIndex(
      samples: Seq[(Boolean, Boolean, Double, Double)]): Int =
    samples.zipWithIndex.minBy { case ((infl, cont, wall, foreign), _) =>
      (if (infl) 1 else 0, if (cont) 1 else 0, wall, foreign)
    }._2

  /** Window-quality verdict embedded in every bench artifact (r16
    * verdict #3): the committed BENCH_r16 headline was 492.8 s from a
    * load-7 window while four same-day quiet runs sat at 325-371 s, and
    * nothing at the artifact's top level said so — a future round diffs
    * the worst sample as if it were the engine. Calibrated on the
    * r15/r16 history: quiet runs start under load ~4 with ~0 steal;
    * the bad windows carry start-load >= 6 and tens of seconds of
    * steal. Keyed on START load (end load includes the bench's own
    * 32-thread contribution), total measured steal across all samples,
    * and the wall-weighted mean foreign-core load of picked samples
    * (own load already subtracted). diff tooling keys on the verdict:
    * walls from a `degraded` window compare as environment artifacts,
    * not engine numbers. */
  private[graft] def windowQuality(loadStart: Double,
      stealTotalSec: Double, foreignMean: Double): String =
    if (loadStart >= 6.0 || stealTotalSec > 30.0 || foreignMean >= 2.0)
      "degraded"
    else if (loadStart >= 4.0 || stealTotalSec > 5.0 || foreignMean >= 1.0)
      "noisy"
    else "quiet"

  /** WHICH predicate(s) fired for [[windowQuality]]'s verdict (r18
    * verdict #3): the label alone conflates three different kinds of
    * evidence — start-load (contended at launch), steal (noisy
    * neighbor during the run), foreign-core load (co-tenant during the
    * picked samples) — and downstream anchor selection / lockstep
    * corroboration in tools/diff_history.py want the actual evidence,
    * not the verdict. Returns e.g. "steal>5" or "load_start>=6+foreign>=2";
    * "none" for a quiet window. Thresholds are [[windowQuality]]'s,
    * stated at the tier that fired. */
  private[graft] def windowQualityReason(loadStart: Double,
      stealTotalSec: Double, foreignMean: Double): String = {
    val degraded = Seq(
      (loadStart >= 6.0) -> "load_start>=6",
      (stealTotalSec > 30.0) -> "steal>30",
      (foreignMean >= 2.0) -> "foreign>=2").filter(_._1).map(_._2)
    val fired =
      if (degraded.nonEmpty) degraded
      else Seq(
        (loadStart >= 4.0) -> "load_start>=4",
        (stealTotalSec > 5.0) -> "steal>5",
        (foreignMean >= 1.0) -> "foreign>=1").filter(_._1).map(_._2)
    if (fired.isEmpty) "none" else fired.mkString("+")
  }

  /** Soft-anomaly trigger with a 1-second BASELINE FLOOR (r16 verdict
    * #7): the profile keeps each entry's MINIMUM exec, so a sub-second
    * entry (q164-class, ~30 ms/task of scheduler/jit jitter) reads as
    * an anomaly in essentially every run, and those ~1 s signals are
    * exactly the ones no steal/jit/foreign probe can cover —
    * `unexplained` must be reserved for signals that can matter. The
    * floored baseline means a sub-second-profile entry flags only past
    * 2 s of scheduled exec with >1 s over the floor; entries with a
    * ≥1 s profile are unaffected. */
  private[graft] def softAnomalyGate(sampleExec: Double,
      profileExec: Double): Boolean = {
    val base = math.max(profileExec, 1.0)
    sampleExec > 2.0 * base && sampleExec - base > 1.0
  }

  /** Soft-anomaly attribution tier from the three measured covers:
    * host environment time (steal+iowait), HotSpot compiler time, and
    * foreign-core displacement. Full-coverage tiers (any single cover,
    * any pair, or all three combined — r16 ADVICE #2 made the chain
    * monotone: full combined coverage must never read as a partial)
    * rank above the 50%-partial tiers; `unexplained` is reserved for
    * inflation less than half covered by everything measured. Extracted
    * from the main-loop closure so the tier order is spec-testable. */
  private[graft] def attributionTier(inflation: Double, env: Double,
      jit: Double, foreignSec: Double): String =
    if (env >= inflation) "steal_attributed"
    else if (jit >= inflation) "jit_attributed"
    else if (env + foreignSec >= inflation) "foreign_load_attributed"
    else if (env + jit + foreignSec >= inflation) "combined_attributed"
    else if (env >= 0.5 * inflation) "steal_partial"
    else if (env + jit + foreignSec >= 0.5 * inflation)
      "jit_foreign_partial"
    else "unexplained"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER: the multi-JVM invariance axis (see Sessions).
    val spark = Sessions.withMaster(SparkSession.builder(), cpus)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", "1048576")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val nProc = osBean.getAvailableProcessors
    val loadStart = osBean.getSystemLoadAverage
    val wallStart = java.time.Instant.now().toString

    // Rolling estimate of THIS process's own contribution to the 1-min
    // load average: process-CPU delta over (up to) the trailing 60 s,
    // in cores. loadavg − own ≈ FOREIGN load — the only kind that makes
    // a wall time an environment number. Seeded HERE — before the
    // warmup block — so the warmup's JIT/CPU is attributed to the
    // process and the first query's foreign_load is not raw loadavg.
    val cpuHist = scala.collection.mutable.ArrayDeque[(Long, Long)](
      (System.currentTimeMillis(), cpuNanos))
    def ownCores(): Double = {
      val nowMs = System.currentTimeMillis()
      val cpuNow = cpuNanos
      cpuHist += ((nowMs, cpuNow))
      while (cpuHist.size > 1 && nowMs - cpuHist.head._1 > 60000L)
        cpuHist.removeHead()
      val (t0, c0) = cpuHist.head
      val dtSec = (nowMs - t0) / 1e3
      if (dtSec < 5 || cpuNow < 0 || c0 < 0) 0.0
      else (cpuNow - c0) / 1e9 / dtSec
    }

    // --- Per-entry Spark-measured metrics (round-11) ------------------
    // The r10 driver run burned 980 cpu-s on q25e where the same binary
    // burned 81 in a quiet run, and nothing in the detail JSON could
    // attribute it (foreign load < 1.5, jit 16 s, gc 1 s). These
    // listener-sourced fields make such a gap self-adjudicating: task
    // counts and failed/retried tasks expose silent task retries,
    // executor run/cpu time separates scheduled compute from driver
    // stalls, shuffle/spill bytes expose plan-shape and memory changes,
    // and the physical-plan fingerprints expose nondeterministic plan
    // flips (e.g. AQE picking SMJ over broadcast on the export spine).
    final class TaskAgg {
      var tasks = 0L; var failed = 0L; var execRunMs = 0L
      var execCpuNs = 0L; var shufReadB = 0L; var shufWriteB = 0L
      var memSpillB = 0L; var diskSpillB = 0L
      def snap(): (Long, Long, Long, Long, Long, Long, Long, Long) =
        synchronized((tasks, failed, execRunMs, execCpuNs, shufReadB,
          shufWriteB, memSpillB, diskSpillB))
    }
    val taskAgg = new TaskAgg
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          taskAgg.synchronized {
            taskAgg.tasks += 1
            if (te.reason != org.apache.spark.Success) taskAgg.failed += 1
            val m = te.taskMetrics
            if (m != null) {
              taskAgg.execRunMs += m.executorRunTime
              taskAgg.execCpuNs += m.executorCpuTime
              taskAgg.shufReadB += m.shuffleReadMetrics.totalBytesRead
              taskAgg.shufWriteB += m.shuffleWriteMetrics.bytesWritten
              taskAgg.memSpillB += m.memoryBytesSpilled
              taskAgg.diskSpillB += m.diskBytesSpilled
            }
          }
      })
    // Listener events deliver asynchronously; drain the bus before each
    // snapshot so a sample's delta covers exactly its own tasks. The
    // bus accessor is private[spark] (public in bytecode) — reflection,
    // with a short sleep as the degraded fallback.
    val drainBus: () => Unit =
      try {
        val busM = spark.sparkContext.getClass.getMethod("listenerBus")
        val bus = busM.invoke(spark.sparkContext)
        val waitM = bus.getClass.getMethod("waitUntilEmpty")
        // waitUntilEmpty throws TimeoutException (10 s default) when the
        // listener thread lags — on a contended host, exactly when this
        // instrumentation matters. A timed-out drain must degrade to the
        // sleep fallback, never abort the run and lose its results.
        val probe = () => {
          try { waitM.invoke(bus); () }
          catch { case _: Throwable => Thread.sleep(100) }
        }
        probe() // exercise the reflective contract now, not mid-run
        probe
      } catch {
        case _: Throwable => () => Thread.sleep(100)
      }
    // Internal SQL executions (the export entries run write jobs inside
    // their query function): fingerprint every execution's final
    // physical plan. Normalized for exprIds / plan ids / temp paths so
    // the same plan shape hashes identically across runs — a changed
    // fingerprint between two detail JSONs IS a plan flip.
    // Fingerprint-normalizer version — bump whenever planFp's rules
    // change. A profile generated under a different version carries
    // incomparable fingerprints, so the plan_flip gate disarms loudly
    // on mismatch instead of retry-storming (exec gates stay armed:
    // exec_run_sec does not depend on the normalizer).
    val fpNormVersion = "r14a"
    def planFp(plan: String): String = {
      val norm = plan
        .replaceAll("#\\d+", "#")
        .replaceAll("[A-Za-z_]*id=#?\\d+", "id=")
        .replaceAll("@[0-9a-fA-F]{4,}", "@")
        .replaceAll("/tmp/[^\\s,)\\]]+", "/tmp/_")
        // session-random table/view names carry HEX suffixes
        // (graft_e261fea921c): [a-z_]+\d+ missed any name ending in a
        // hex letter, which made 31 entries' fingerprints volatile
        // run-to-run (the r12 "bistable plan" false alarm — the plans
        // were identical, the temp NAME differed). Strip only the
        // volatile hex tail and KEEP the stem: collapsing every
        // graft_* identifier to one token made __graft_min_a /
        // __graft_max_a and the graft_bkt_l_/graft_bkt_r_ pair hash
        // alike, so a genuine build/probe-side swap between them
        // (exactly the bistability the plan_flip gate watches for)
        // fingerprinted identically. r14 (ADVICE): the tail must be 8+
        // hex chars — the only session-random shape in the codebase is
        // Bucketing's 12-hex UUID suffix — so a stable name whose
        // suffix is an ordinary short hex-WORD (graft_feed vs
        // graft_face, names ending _dead/_beef) keeps its identity and
        // a real swap between such names still fingerprints apart
        .replaceAll("(graft_[a-z_]*?)[0-9a-f]{8,}\\b", "$1")
        // run-order noise, not plan shape: codegen span ids, AQE query-
        // stage materialization ids, and lambda class counters/addresses
        // all depend on concurrent stage completion order
        .replaceAll("\\*\\(\\d+\\)", "*(c)")
        .replaceAll("QueryStage \\d+", "QueryStage")
        .replaceAll("Lambda\\$\\d+/0x[0-9a-fA-F]+", "Lambda")
        // higher-order-function lambda variables are numbered by a
        // SESSION-GLOBAL counter (lambda x_9# in a subset run is
        // lambda x_50# mid-catalog): any entry using filter/transform
        // lambdas fingerprinted differently depending on every
        // preceding entry — the r12 "context-dependent plan" was this
        // token, not a real plan change
        .replaceAll("lambda [a-z]+_\\d+#", "lambda v#")
      // grouping-sets/cube aggregates print their key list in hash-set
      // iteration order (q95: key=[custkey, orderkey, …] vs a run-to-run
      // permutation of the SAME keys) — canonicalize by sorting the
      // comma-separated tokens inside key=[...]. Sort ONLY when every
      // fragment is a bare (already-normalized) column ref: a key=[...]
      // printed by an order-significant node (sort/window keys) or one
      // containing nested comma-bearing expressions must pass through
      // unchanged, otherwise a real ordering flip would fingerprint
      // identically
      val bareRef = "^[A-Za-z0-9_#]+$".r
      val keyCanon = """key=\[([^\]]*)\]""".r.replaceAllIn(norm, m => {
        val frags = m.group(1).split(", ", -1)
        val canon =
          if (frags.forall(f => bareRef.findFirstIn(f).isDefined))
            frags.sorted.mkString(", ")
          else m.group(1)
        scala.util.matching.Regex.quoteReplacement("key=[" + canon + "]")
      })
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(keyCanon.getBytes("UTF-8")).map("%02x".format(_))
        .mkString.take(12)
    }
    // raw-plan dump for fingerprint-diff diagnosis:
    // SPARK_GRAFT_PLAN_DUMP=<dir> writes one <file>.plan.txt per plan
    def dumpPlan(fileName: String, plan: => String): Unit =
      sys.env.get("SPARK_GRAFT_PLAN_DUMP").foreach { dir =>
        scala.util.Try {
          java.nio.file.Files.createDirectories(
            java.nio.file.Paths.get(dir))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, s"$fileName.plan.txt"),
            plan.getBytes("UTF-8"))
        }
      }
    val subPlans = new scala.collection.mutable.ArrayBuffer[String]()
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          val fp = scala.util.Try(planFp(qe.executedPlan.toString))
            .getOrElse("err")
          val idx = subPlans.synchronized { subPlans += fp; subPlans.size }
          dumpPlan(f"sub_$idx%03d_$fp", qe.executedPlan.toString)
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    // Warm up JVM/codegen/parquet-reader paths so the first timed query
    // isn't charged for JIT + class loading. The synthetic second block
    // exercises the engine's common physical machinery — shuffle,
    // collect_list-of-struct aggregation, array_sort, interpreted
    // higher-order functions, broadcast + shuffle joins — which profiling
    // showed dominate cold-JVM cost (a cold q25s spends ~55 of ~107
    // cpu-sec in HotSpot compiler threads; see per-query jit_sec).
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    locally {
      import org.apache.spark.sql.functions._
      val syn = spark.range(200000L)
        .select(col("id"), (col("id") % 5000).as("k"),
          concat(lit("v"), col("id")).as("s"))
      val grouped = syn.groupBy("k")
        .agg(collect_list(struct(col("s").as("a"), col("s").as("b"))).as("xs"))
        .select(col("k"), array_sort(col("xs")).as("xs"))
        .select(col("k"),
          size(filter(col("xs"), x => x.getField("a").startsWith("v1")))
            .as("n1"),
          size(array_distinct(transform(col("xs"), x => x.getField("a"))))
            .as("n2"))
      val dim = spark.range(5000L)
        .select(col("id").as("k"), (col("id") * 2).as("w"))
      grouped.join(dim, "k").join(syn.groupBy("k").count(), "k")
        .queryExecution.toRdd.count()
    }
    // Warm the assembly→render→export spine the same way: a TINY
    // in-memory UMLS fixture driven through the full dataflow compiles
    // the typed encoders, renderer, and distributed text sink whose JIT
    // otherwise lands inside the first heavy export entry's timed window
    // (q25e/q25m/q25s carry 8-23 s of jit_sec without this). The fixture
    // is 3 synthetic rows — a CODE-path warmup, never a data warmup.
    scala.util.Try {
      import graft.sources.UmlsSource
      def rows(table: String, vals: Map[String, String]*) =
        spark.createDataFrame(
          java.util.Arrays.asList(vals.map(m =>
            org.apache.spark.sql.Row(UmlsSource.schemaOf(table).fieldNames
              .map(f => m.getOrElse(f, "")): _*)): _*),
          UmlsSource.schemaOf(table))
      val src = UmlsSource.fixed(Map(
        "MRCONSO" -> rows("MRCONSO",
          Map("CUI" -> "C1", "LAT" -> "ENG", "AUI" -> "A1", "SAB" -> "W",
            "TTY" -> "PT", "CODE" -> "K1", "STR" -> "warm one",
            "SUPPRESS" -> "N"),
          Map("CUI" -> "C1", "LAT" -> "ENG", "AUI" -> "A2", "SAB" -> "W",
            "TTY" -> "SY", "CODE" -> "K1", "STR" -> "warm syn",
            "SUPPRESS" -> "N"),
          Map("CUI" -> "C2", "LAT" -> "ENG", "AUI" -> "A3", "SAB" -> "W",
            "TTY" -> "PT", "CODE" -> "K2", "STR" -> "warm two",
            "SUPPRESS" -> "N")),
        "MRRANK" -> rows("MRRANK",
          Map("RANK" -> "0400", "SAB" -> "W", "TTY" -> "PT",
            "SUPPRESS" -> "N"),
          Map("RANK" -> "0300", "SAB" -> "W", "TTY" -> "SY",
            "SUPPRESS" -> "N")),
        "MRSAB" -> rows("MRSAB",
          Map("RSAB" -> "W", "VSAB" -> "W1", "CURVER" -> "Y",
            "LAT" -> "ENG", "IMETA" -> "2026AA", "SVER" -> "1",
            "SSN" -> "warm", "SON" -> "warm"))) ++
        Seq("MRREL", "MRDEF", "MRSAT", "MRSTY", "MRDOC")
          .map(t => t -> UmlsSource.empty(spark, t)).toMap)
      val outDir = java.nio.file.Files
        .createTempDirectory("graft_bench_warm_").toFile
      val outFile = new java.io.File(outDir, "warm.ttl").getAbsolutePath
      graft.sink.OntologyWriter.write(spark, src,
        graft.model.OntologyJob("W", None, outFile, loadOnCuis = false),
        graft.sink.UmlsExportConfig(umlsVersion = "2026AA",
          includeSemanticTypes = false),
        outFile, Map.empty, "")
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      rm(outDir)
    }.failed.foreach(e =>
      System.err.println(s"[bench] export warmup skipped: ${e.getMessage}"))
    // Queries in name order for stable output; each is timed end-to-end.
    // Drain via queryExecution.toRdd.count() — a plain df.count() lets
    // Catalyst prune unreferenced columns, so projection-only queries would
    // be timed without executing their expressions.
    // Optional subset filter for diagnosis runs: comma-separated query
    // names (exact match). Production driver runs leave this unset.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.benchQueries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // q189's Derby fixture load is one-time setup, not the partitioned-
    // JDBC read the entry times — bootstrap it before the clock so the
    // entry's samples all measure the same (loaded) work.
    if (selected.exists(_._1.startsWith("q189")))
      scala.util.Try(graft.catalog.UmlsQueries.prewarmJdbc(spark))
        .failed.foreach(e =>
          System.err.println(s"[bench] jdbc prewarm skipped: ${e.getMessage}"))

    // --- Quiet-run reference profile (round-12) -----------------------
    // PERF_PROFILE.json (committed at HEAD; SPARK_GRAFT_PERF_PROFILE
    // overrides the path) carries each entry's quiet-run executor-
    // scheduled seconds and the plan fingerprints a quiet host produces.
    // Purpose: the r11 driver run inflated 83% at foreign load ~0-1.6 —
    // the foreign-load gate cannot see SELF-inflation (JIT storms, plan
    // flips, cgroup throttling), but exec_run_sec ≫ the quiet profile
    // on the same binary can: host contention inflates wall while
    // executor-scheduled time tracks actual compute (q96 r11: 51.0 s
    // exec vs 7.4 s quiet on identical task and shuffle counts).
    case class ProfileEntry(execRunSec: Double, jitSec: Double,
        wall: Double, planFps: Set[String])
    val profile: Map[String, ProfileEntry] = {
      val path = sys.env.getOrElse("SPARK_GRAFT_PERF_PROFILE",
        "PERF_PROFILE.json")
      try {
        val f = new java.io.File(path)
        if (!f.exists) Map.empty
        else {
          import org.json4s._
          import org.json4s.jackson.JsonMethods
          def num(v: JValue): Double = v match {
            case JDouble(x) => x
            case JInt(x) => x.toDouble
            case JDecimal(x) => x.toDouble
            case JLong(x) => x.toDouble
            case _ => 0.0
          }
          val root = JsonMethods.parse(f)
          // Config-skew guard (the r11 "plan flip" was a 4-cpu profile
          // compared against a 32-cpu run — see BENCH_NOTES.md): a
          // profile generated at a different cpu count describes
          // different physical plans (defaultParallelism drives fanOut
          // and shuffle.partitions), so its gates must disarm, loudly.
          val profCpus = root \ "cpus" match {
            case JInt(x) => Some(x.toString)
            case JString(s) => Some(s)
            case JLong(x) => Some(x.toString)
            case _ => None
          }
          // Same guard for the scale factor: a sf0.001 diagnosis run
          // against the committed sf0.1 profile flips nearly every AQE
          // plan (observed: 106 plan_flip retries in one smoke run) and
          // its exec times share no baseline with the profile's.
          val profSf = root \ "sf" match {
            case JString(s) => Some(s)
            case _ => None
          }
          // Fingerprint-normalizer skew: exec gates survive (scheduled
          // seconds are normalizer-independent) but the stored plan_fps
          // are incomparable — keep the entries, drop the fps.
          val profFpVer = root \ "fp_version" match {
            case JString(s) => Some(s)
            case _ => None
          }
          // missing fp_version = pre-versioning profile = incomparable
          val fpComparable = profFpVer.contains(fpNormVersion)
          if (!fpComparable)
            System.err.println(s"[bench] plan_flip gate DISARMED: " +
              s"profile fp_version=${profFpVer.getOrElse("<absent>")}, " +
              s"bench fp_version=$fpNormVersion (exec gates stay armed)")
          if (profCpus.exists(_ != cpus)) {
            System.err.println(s"[bench] perf profile DISARMED: " +
              s"generated at cpus=${profCpus.get}, running at cpus=$cpus")
            Map.empty
          } else if (profSf.exists(_ != sfDir)) {
            System.err.println(s"[bench] perf profile DISARMED: " +
              s"generated at sf=${profSf.get}, running at sf=$sfDir")
            Map.empty
          } else root \ "entries" match {
            case JObject(fields) => fields.map { case (name, v) =>
              val fps = v \ "plan_fps" match {
                case JArray(xs) if fpComparable =>
                  xs.collect { case JString(s) => s }.toSet
                case _ => Set.empty[String]
              }
              name -> ProfileEntry(num(v \ "exec_run_sec"),
                num(v \ "jit_sec"), num(v \ "wall"), fps)
            }.toMap
            case _ => Map.empty
          }
        }
      } catch {
        case e: Throwable =>
          System.err.println(
            s"[bench] perf profile unreadable: ${e.getMessage}")
          Map.empty
      }
    }
    if (profile.nonEmpty)
      System.err.println(s"[bench] perf profile loaded: ${profile.size} entries")

    case class Sample(wall: Double, startedAt: Long, loadAt: Double,
        loadAfter: Double, foreign: Double, gcSec: Double, cpuSec: Double,
        jitSec: Double, tasks: Long, failedTasks: Long,
        execRunSec: Double, execCpuSec: Double, shufReadMb: Double,
        shufWriteMb: Double, spillMemMb: Double, spillDiskMb: Double,
        stealSec: Double, iowaitSec: Double,
        planFp: String, subPlanFps: Seq[String])

    // HotSpot compiler-thread time: a one-shot query's generated classes
    // are Janino'd + C2-compiled DURING the query, and those compiler
    // threads land in process CPU. Profiling q25s cold: 107 cpu-sec =
    // 55 JIT + ~1.7 Janino + ~50 execute (36 warm). jit_sec makes the
    // split visible per query so cpu_sec reads as compile + compute.
    val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean
    def runOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        tag: String): Sample = {
      drainBus()
      val (tk0, fl0, er0, ec0, sr0, sw0, sm0, sd0) = taskAgg.snap()
      val sub0 = subPlans.synchronized(subPlans.size)
      val (st0, io0) = procStatStealIowait()
      val startedAt = System.currentTimeMillis()
      val loadAt = osBean.getSystemLoadAverage
      val ownAt = ownCores()
      val gc0 = gcMillis
      val cpu0 = cpuNanos
      val jit0 = jitBean.getTotalCompilationTime
      val t0 = System.nanoTime()
      var mainFp = ""
      val n =
        try {
          val df = fn(spark, sfDir)
          val rows = df.queryExecution.toRdd.count()
          // fingerprint AFTER execution so AQE's FINAL plan (not the
          // initial one) is what hashes — a run-to-run fingerprint
          // change is exactly the plan flip we want to catch
          mainFp = scala.util.Try(
            planFp(df.queryExecution.executedPlan.toString))
            .getOrElse("err")
          dumpPlan(name, df.queryExecution.executedPlan.toString)
          rows
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); -1L
        }
      val sec = (System.nanoTime() - t0) / 1e9
      val loadAfter = osBean.getSystemLoadAverage
      val ownAfter = ownCores()
      val foreign = math.max(0.0,
        math.max(loadAt - ownAt, loadAfter - ownAfter))
      val gcSec = (gcMillis - gc0) / 1e3
      val cpuSec = if (cpu0 < 0) -1.0 else (cpuNanos - cpu0) / 1e9
      val jitSec = (jitBean.getTotalCompilationTime - jit0) / 1e3
      drainBus()
      val (tk1, fl1, er1, ec1, sr1, sw1, sm1, sd1) = taskAgg.snap()
      val (st1, io1) = procStatStealIowait()
      val subFps = subPlans.synchronized(subPlans.drop(sub0).toList)
      // USER_HZ = 100 on every mainline Linux ABI
      val stealSec = if (st0 < 0 || st1 < 0) -1.0 else (st1 - st0) / 100.0
      val iowaitSec = if (io0 < 0 || io1 < 0) -1.0 else (io1 - io0) / 100.0
      val sample = Sample(sec, startedAt, loadAt, loadAfter, foreign,
        gcSec, cpuSec, jitSec, tk1 - tk0, fl1 - fl0,
        (er1 - er0) / 1e3, (ec1 - ec0) / 1e9,
        (sr1 - sr0) / 1048576.0, (sw1 - sw0) / 1048576.0,
        (sm1 - sm0) / 1048576.0, (sd1 - sd0) / 1048576.0,
        stealSec, iowaitSec, mainFp, subFps)
      System.err.println(f"[bench] $name%-28s $sec%8.2f s  " +
        f"(cpu $cpuSec%.1f s, jit $jitSec%.1f s, gc $gcSec%.1f s, " +
        f"load $loadAt%.1f→$loadAfter%.1f, foreign $foreign%.1f, " +
        f"steal $stealSec%.1f s, " +
        f"tasks ${sample.tasks}%d/${sample.failedTasks}%d failed, " +
        f"exec ${sample.execRunSec}%.1f s, " +
        f"shuf ${sample.shufReadMb}%.0f/${sample.shufWriteMb}%.0f MB, " +
        f"spill ${sample.spillDiskMb}%.0f MB, plan $mainFp%s, " +
        f"$n rows$tag)")
      sample
    }

    // Self-correcting retry pass, round-10 policy. The r9 gate (cpu/wall
    // < 2 cores) caught STARVED queries but missed SLOWED ones — tasks
    // competing with load-13 host activity still burn CPU, so cpu/wall
    // stays high while wall inflates (q25e r9: cpu/wall ≈ 16 at load
    // 13.5, 8× the quiet wall). It also fired for genuinely light
    // single-threaded queries on a quiet host, and best-of-two is a
    // one-sided estimator that biased headline walls low. New policy:
    //   - TRIGGER on FOREIGN environment only: retry (up to twice) while
    //     the load average MINUS this process's own rolling contribution
    //     exceeds cpus/4 at the sample's start or end (queries under
    //     0.3 s stay single-sample noise). Gating on raw loadavg made
    //     the bench retry itself after its own heavy stretches;
    //   - PICK by environment, not outcome: the reported sample is the
    //     one with the LOWEST foreign load (tie → shortest wall) — a
    //     quiet-host sample beats a contended one regardless of which
    //     wall happens to be smaller, and on a quiet host nothing ever
    //     retries, so quiet-run numbers are methodology-identical to a
    //     single pass;
    //   - every sample is recorded in the detail JSON (`samples` +
    //     `picked`), so a contended driver run stays self-adjudicating.
    val loadThresh = math.max(4.0, nProc / 4.0)
    def contended(s: Sample): Boolean = s.foreign > loadThresh
    // Round-12 self-inflation gates, profile-referenced (no-ops without
    // a committed PERF_PROFILE.json):
    //   - exec_inflated: executor-scheduled seconds > 3× the quiet
    //     profile with a 2 s absolute floor (sub-second entries are
    //     noise) — fires even at foreign ≈ 0, the exact r11 driver
    //     signature the foreign gate missed;
    //   - plan_flip: the final physical plan's normalized fingerprint
    //     is outside the quiet-run set — retried ONCE so the detail
    //     carries a second sample that adjudicates it (flip stable
    //     across both ⇒ environment-dependent plan, one-off ⇒ AQE
    //     jitter under load).
    def inflated(name: String, s: Sample): Boolean =
      profile.get(name).exists { p =>
        s.execRunSec > 3.0 * p.execRunSec && s.execRunSec - p.execRunSec > 2.0
      }
    def planFlip(name: String, s: Sample): Boolean =
      profile.get(name).exists { p =>
        p.planFps.nonEmpty && s.planFp.nonEmpty && s.planFp != "err" &&
          !p.planFps.contains(s.planFp)
      }
    def retryReason(name: String, s: Sample, nth: Int): Option[String] =
      if (contended(s)) Some("foreign_load")
      else if (inflated(name, s)) Some("exec_inflated")
      else if (planFlip(name, s) && nth < 2) Some("plan_flip")
      else None
    // Soft anomaly (r12 verdict #8): exec above 2× the quiet profile but
    // under the 3× retry gate — contention noise that nonetheless became
    // the r12 headline for q102/q103/q170. No retry (tightening the gate
    // would retry-storm on real contention); instead the entry is flagged
    // in the detail JSON so adjudication separates contention inflation
    // from regression at a glance.
    def softAnomaly(name: String, s: Sample): Boolean =
      !inflated(name, s) && profile.get(name).exists { p =>
        softAnomalyGate(s.execRunSec, p.execRunSec)
      }
    // r14 verdict #4: the probe records steal/iowait per sample, but the
    // classifier flagged on exec ratio alone, so every driver-window
    // anomaly needed manual attribution. Both steal_sec and the exec
    // inflation are host-CPU-seconds over the same window, so they
    // compare directly: environment time >= the inflation means the
    // co-tenant fully explains the flag. r15 verdict #3: the classifier
    // keyed on steal+iowait only, leaving 12 of 15 anomalies
    // `unexplained` in a window that recorded 2.8 FOREIGN cores — on a
    // fully-subscribed local[32] host, foreign processes running f cores
    // for the query's wall window displace up to f·wall CPU-seconds of
    // executor schedule, so that product joins steal/iowait as
    // quantitative cover for the inflation (it is an upper bound — the
    // qualitative `foreign > 2.0` branch it replaces claimed attribution
    // with no magnitude check at all).
    // A third in-process cause neither probe can see (r16): HotSpot
    // compiler threads. Every entry Janino+C2-compiles its generated
    // classes, compiler threads compete with the 32 executor threads
    // for the same cores, and the profile keeps each entry's MINIMUM
    // exec across runs — so a jit-storm sample reads 2-3x the profile
    // at foreign 0 / steal 0 (the recurring "unexplained" residue of
    // the r16 clean-window runs: q100 inflation 1.8 s under 5.7 s of
    // jit). jit_sec >= the inflation means the compiler fully covers
    // the extra scheduled time.
    def anomalyAttribution(name: String, s: Sample): Option[String] =
      if (!softAnomaly(name, s)) None
      else profile.get(name).map { p =>
        // Inflation over the same FLOORED baseline the gate used
        // (softAnomalyGate): attributing against the raw sub-second
        // minimum would demand covers for jitter the gate no longer
        // treats as signal.
        val inflation = s.execRunSec - math.max(p.execRunSec, 1.0)
        val env = math.max(0.0, s.stealSec) + math.max(0.0, s.iowaitSec)
        val foreignSec = math.max(0.0, s.foreign) * s.wall
        val jit = math.max(0.0, s.jitSec)
        attributionTier(inflation, env, jit, foreignSec)
      }
    val results = selected.map { case (name, fn) =>
      val s1 = runOnce(name, fn, "")
      val samples = scala.collection.mutable.ArrayBuffer(s1)
      val reasons = scala.collection.mutable.ArrayBuffer[String]()
      var reason = retryReason(name, s1, 1)
      while (samples.size < 3 && reason.isDefined &&
          samples.last.wall >= 0.3) {
        reasons += reason.get
        samples += runOnce(name, fn,
          s", retry ${samples.size} [${reason.get}]")
        reason = retryReason(name, samples.last, samples.size)
      }
      // Pick by sample health class, then WALL within an equal class
      // (r14 policy — see pickSampleIndex and its spec): foreign load
      // only ranks across classes, never inside one.
      val picked = pickSampleIndex(samples.toSeq.map(s =>
        (inflated(name, s), contended(s), s.wall, s.foreign)))
      (name, samples.toSeq, picked, reasons.toSeq)
    }
    def jsonMap(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + f3(v) }
        .mkString("{", ",", "}")
    val loadEnd = osBean.getSystemLoadAverage
    val total = results.map { case (_, ss, p, _) => ss(p).wall }.sum
    val times = results.map { case (k, ss, p, _) => k -> ss(p).wall }
    // Window-quality inputs (see windowQuality): steal across ALL
    // samples including retries (retries burn the same window), foreign
    // load wall-weighted over the PICKED samples (the ones the headline
    // is made of).
    val stealTotal = results.flatMap(_._2)
      .map(s => math.max(0.0, s.stealSec)).sum
    // `total` above IS the picked-sample wall sum — reusing it keeps the
    // headline definition in one place (r17 ADVICE #4).
    val foreignMean =
      if (total <= 0) 0.0
      else results.map { case (_, ss, p, _) =>
        math.max(0.0, ss(p).foreign) * ss(p).wall
      }.sum / total
    val quality = windowQuality(loadStart, stealTotal, foreignMean)
    val qualityJson = s""""window_quality":"$quality",""" +
      s""""window_quality_reason":"${
        windowQualityReason(loadStart, stealTotal, foreignMean)}",""" +
      s""""steal_total_sec":${f3(stealTotal)},""" +
      s""""foreign_mean":${f3(foreignMean)}"""
    // Detail filename: explicit env override, else derived from the
    // driver's round number, else the round-agnostic default (driver or
    // builder renames on commit). No per-round source edit required.
    val detailPath = sys.env.get("SPARK_GRAFT_BENCH_DETAIL")
      .orElse(sys.env.get("SPARK_GRAFT_ROUND").map { r =>
        val n = r.trim.replaceAll("^r", "")
        f"BENCH_DETAIL_r${scala.util.Try(n.toInt).getOrElse(0)}%02d.json"
      })
      .getOrElse("BENCH_DETAIL.json")
    // Per-query diagnostics. Top-level fields come from the PICKED
    // sample (the one whose wall is the headline number in `queries`),
    // so load/gc/cpu/jit always describe the reported measurement.
    // Retried queries additionally carry EVERY sample (`samples`, in run
    // order) and the picked index, so a contended run is fully
    // re-adjudicable from the detail alone. cpu/wall ≪ 1 core ⇒ starved;
    // gc ≈ wall ⇒ heap thrash; load > cpus/4 ⇒ contended environment.
    // Spark-measured fields (per sample): tasks + failed task count
    // expose silent retries; exec_run/exec_cpu are executor-side
    // scheduled time (≫ quiet-run values with no failed tasks ⇒ genuine
    // extra compute, e.g. a plan flip); shuffle/spill MB pin data
    // volume; plan_fp is the normalized hash of the entry's FINAL
    // physical plan and sub_plans the hashes of internal SQL executions
    // (export write jobs), SORTED because parallel exports complete in
    // nondeterministic order — diff them across runs to attribute a
    // wall gap to a plan change in one line.
    def sparkMeasured(s: Sample): String =
      ",\"tasks\":" + s.tasks + ",\"failed_tasks\":" + s.failedTasks +
        ",\"exec_run_sec\":" + f3(s.execRunSec) +
        ",\"exec_cpu_sec\":" + f3(s.execCpuSec) +
        ",\"shuffle_read_mb\":" + f3(s.shufReadMb) +
        ",\"shuffle_write_mb\":" + f3(s.shufWriteMb) +
        ",\"spill_mem_mb\":" + f3(s.spillMemMb) +
        ",\"spill_disk_mb\":" + f3(s.spillDiskMb) +
        ",\"steal_sec\":" + f3(s.stealSec) +
        ",\"iowait_sec\":" + f3(s.iowaitSec) +
        ",\"plan_fp\":\"" + s.planFp + "\"" +
        ",\"sub_plans\":" + s.subPlanFps.sorted.map("\"" + _ + "\"")
          .mkString("[", ",", "]")
    def sampleJson(s: Sample): String =
      "{\"wall\":" + f3(s.wall) + ",\"start_ms\":" + s.startedAt +
        ",\"load\":" + f3(s.loadAt) +
        ",\"load_after\":" + f3(s.loadAfter) +
        ",\"foreign_load\":" + f3(s.foreign) +
        ",\"gc_sec\":" + f3(s.gcSec) + ",\"cpu_sec\":" + f3(s.cpuSec) +
        ",\"jit_sec\":" + f3(s.jitSec) + sparkMeasured(s) + "}"
    val perQuery = results.map {
      case (k, samples, picked, reasons) =>
        val s = samples(picked)
        val profJson = profile.get(k).map(p =>
          ",\"profile_exec_sec\":" + f3(p.execRunSec)).getOrElse("") +
          (if (softAnomaly(k, s)) ",\"soft_anomaly\":true" +
            anomalyAttribution(k, s)
              .map(a => ",\"anomaly_attribution\":\"" + a + "\"")
              .getOrElse("")
          else "")
        val retryJson =
          if (samples.size == 1) profJson
          else ",\"retried\":true,\"picked\":" + picked +
            ",\"retry_reasons\":" + reasons.map("\"" + _ + "\"")
              .mkString("[", ",", "]") + profJson +
            ",\"samples\":" +
            samples.map(sampleJson).mkString("[", ",", "]")
        "\"" + k + "\":{\"start_ms\":" + s.startedAt +
          ",\"load\":" + f3(s.loadAt) +
          ",\"load_after\":" + f3(s.loadAfter) +
          ",\"foreign_load\":" + f3(s.foreign) +
          ",\"gc_sec\":" + f3(s.gcSec) +
          ",\"cpu_sec\":" + f3(s.cpuSec) +
          ",\"jit_sec\":" + f3(s.jitSec) + sparkMeasured(s) +
          retryJson + "}"
    }.mkString("{", ",", "}")
    // Streaming throughput (VERDICT r8 #6): sustained events/sec through
    // sessionize and watermarked dedup over a backlogged rate source —
    // the streaming surface's first committed number. ~30 s total;
    // disable with SPARK_GRAFT_STREAM_BENCH=0 for targeted runs, or
    // FORCE with =1 to run the streaming leg alone next to a
    // SPARK_GRAFT_BENCH_ONLY subset (quiet-window streaming
    // adjudication without paying the full catalog).
    // Guarded: a streaming failure (full /tmp, state-store error) must
    // not discard the minutes of per-query results gathered above — the
    // detail file and stdout line still get written.
    val streamEnabled = sys.env.get("SPARK_GRAFT_STREAM_BENCH") match {
      case Some("0") => false
      case Some("1") => true
      case _ => only.isEmpty
    }
    val streamRates: Seq[(String, Double)] =
      if (!streamEnabled) Seq.empty
      else scala.util.Try(graft.streaming.StreamBench.run(spark))
        .recover { case e =>
          System.err.println(
            s"[bench] streaming bench FAILED: ${e.getMessage}")
          Seq.empty[(String, Double)]
        }.get
    // keys arrive fully named: <pipeline>_events_per_sec (steady),
    // <pipeline>_steady_batches, <pipeline>_batch_sec_early/late,
    // rows_per_batch
    val streamBench =
      if (streamRates.isEmpty) ""
      else ",\"streaming_throughput\":" + jsonMap(streamRates)
    val heapMax = Runtime.getRuntime.maxMemory()
    val softAnoms = results.collect {
      case (k, ss, p, _) if softAnomaly(k, ss(p)) =>
        k -> anomalyAttribution(k, ss(p)).getOrElse("unexplained")
    }
    val softAnomsJson = softAnoms
      .map { case (k, a) => "\"" + k + ":" + a + "\"" }
      .mkString("[", ",", "]")
    if (softAnoms.nonEmpty)
      System.err.println(
        s"[bench] soft anomalies (2-3x quiet exec, no retry): " +
          softAnoms.map { case (k, a) => s"$k [$a]" }.mkString(", "))
    val host = s""""host":{"cpus_requested":"$cpus","available_processors":$nProc,""" +
      s""""load_avg_start":${f3(loadStart)},"load_avg_end":${f3(loadEnd)},""" +
      s""""heap_max_mb":${heapMax / (1024 * 1024)},""" +
      s""""gc_total_sec":${f3(gcMillis / 1e3)},""" +
      s""""wall_start":"$wallStart"}"""
    // Entries timed in their production (xxhash64) configuration while
    // Verify checks the portable-oracle form — see Q.benchRun.
    val overridden = graft.catalog.Queries.benchOverridden
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val detail = s"""{"metric":"total","value":${f3(total)},"unit":"sec",""" +
      s"""$qualityJson,""" +
      s""""n":${results.size},"queries":${jsonMap(times)},""" +
      s""""bench_config_overrides":$overridden,""" +
      s""""fp_version":"$fpNormVersion",""" +
      s""""soft_anomalies":$softAnomsJson,""" +
      s""""query_meta":$perQuery$streamBench,$host,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (detail + "\n").getBytes("UTF-8"))
    // Survive the driver's artifact overwrite (r11 lesson: the driver
    // harness replaces BENCH_DETAIL.json with a wall-only synthesis, so
    // the attribution fields from THE run that needs adjudicating lived
    // only in a 2,000-char stdout tail). Dual-write the full detail to
    // a second path the harness never rewrites, and append a one-line
    // record to an append-only history so round-over-round deltas keep
    // their evidence even across detail-file churn. Subset/diagnosis
    // runs are excluded — the history is full-catalog runs only.
    if (only.isEmpty) scala.util.Try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_DETAIL_last.json"),
        (detail + "\n").getBytes("UTF-8"))
      val flagged = results.collect {
        case (k, samples, picked, reasons) if samples.size > 1 =>
          val sp = samples(picked)
          "\"" + k + "\":{\"reasons\":" +
            reasons.map("\"" + _ + "\"").mkString("[", ",", "]") +
            ",\"walls\":" + samples.map(s => f3(s.wall))
              .mkString("[", ",", "]") +
            ",\"exec_run_secs\":" + samples.map(s => f3(s.execRunSec))
              .mkString("[", ",", "]") +
            ",\"foreign_loads\":" + samples.map(s => f3(s.foreign))
              .mkString("[", ",", "]") +
            ",\"plan_fps\":" + samples.map(s => "\"" + s.planFp + "\"")
              .mkString("[", ",", "]") +
            ",\"picked\":" + picked +
            profile.get(k).map(p =>
              ",\"profile_exec_sec\":" + f3(p.execRunSec)).getOrElse("") +
            ",\"picked_wall\":" + f3(sp.wall) + "}"
      }.mkString("{", ",", "}")
      // r15 verdict #2: the windowed_dedup rate collapse went unnoticed
      // because 47 history entries carried per-query walls but ZERO
      // streaming numbers — the one regression class not diffable from
      // artifacts. Every full-catalog history record now carries the
      // complete streaming map (rates, steady/insufficient batch
      // counts, early/late batch durations); tools/diff_history.py
      // flags round-over-round moves on these fields like query walls.
      val histLine = s"""{"wall_start":"$wallStart","sf":"$sfDir",""" +
        s"""$qualityJson,""" +
        s""""cpus":$nProc,"cpus_requested":"$cpus",""" +
        s""""total_sec":${f3(total)},"n":${results.size},""" +
        s""""load_avg_start":${f3(loadStart)},"load_avg_end":${f3(loadEnd)},""" +
        s""""profile_entries":${profile.size},""" +
        s""""streaming":${jsonMap(streamRates)},""" +
        s""""queries":${jsonMap(times)},"flagged":$flagged}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_HISTORY.jsonl"),
        (histLine + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }.failed.foreach(e =>
      System.err.println(s"[bench] history write failed: ${e.getMessage}"))
    // Stdout line stays well under the harness's 2,000-char tail: total,
    // query count, load context, the 5 slowest, and a pointer to the
    // committed detail.
    val worst = times.sortBy(-_._2).take(5)
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec",""" +
      s""""window_quality":"$quality",""" +
      s""""n":${results.size},"load_avg":${f3(loadEnd)},"cpus":$nProc,""" +
      s""""cpus_requested":"$cpus",""" +
      s""""queries":${jsonMap(worst)},""" +
      s""""detail":"$detailPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
