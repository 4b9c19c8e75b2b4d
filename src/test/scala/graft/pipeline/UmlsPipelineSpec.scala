package graft.pipeline

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.OntologyJob
import graft.sink.{UmlsExportConfig, WriteReport}
import graft.sources.ConfManifest

/** Resumable-pipeline behavior (R1/R2/R4): state survives across runs,
  * completed steps are skipped, probes fail on bad input.
  */
class UmlsPipelineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def conso(cui: String, aui: String, code: String, str: String,
      tty: String, sab: String): Map[String, String] =
    Map("CUI" -> cui, "LAT" -> "ENG", "AUI" -> aui, "SAB" -> sab,
      "TTY" -> tty, "CODE" -> code, "STR" -> str, "SUPPRESS" -> "N")

  private val fixture = Map(
    "MRCONSO" -> TestSpark.mkTable("MRCONSO", Seq(
      conso("C1", "A1", "X1", "Alpha", "PT", "SABA"),
      conso("C2", "A2", "Y1", "Beta", "PT", "SABB"))),
    "MRSTY" -> TestSpark.mkTable("MRSTY", Seq(
      Map("CUI" -> "C1", "TUI" -> "T001", "STN" -> "A1", "STY" -> "Entity"))),
    "MRSAB" -> TestSpark.mkTable("MRSAB", Seq(
      Map("RSAB" -> "SABA", "VSAB" -> "SABA1", "CURVER" -> "Y", "LAT" -> "ENG"),
      Map("RSAB" -> "SABB", "VSAB" -> "SABB1", "CURVER" -> "Y", "LAT" -> "ENG"))),
    "MRDOC" -> TestSpark.mkTable("MRDOC", Nil))

  private val jobs = Seq(
    OntologyJob("SABA", None, "SABA.ttl", loadOnCuis = false),
    OntologyJob("SABB", None, "SABB.ttl", loadOnCuis = false))

  private def mkPipeline(outDir: String, workDir: String): UmlsPipeline =
    new UmlsPipeline(spark, TestSpark.fixedSource(fixture), jobs,
      PipelineConfig(outDir, workDir, UmlsExportConfig(umlsVersion = "2025AB")))

  test("full run executes every step and produces all outputs") {
    val out = Files.createTempDirectory("pipe-out").toString
    val work = Files.createTempDirectory("pipe-work").toString
    val p = mkPipeline(out, work)
    val reports = p.run()
    assert(p.executed == Seq("validate_source", "semantic_types",
      "ontology:SABA", "ontology:SABB", "validate_output"))
    assert(reports.map(_.terms) == Seq(1, 1))
    assert(Files.exists(Paths.get(s"$out/umls_semantictypes.ttl")))
    assert(Files.exists(Paths.get(s"$out/SABA.ttl")))
    assert(Files.exists(Paths.get(s"$out/SABB.ttl")))
  }

  test("sharedScan export is byte-identical to the direct run and reads " +
    "each fat table a job-count-independent number of times") {
    import graft.sources.UmlsSource
    import scala.collection.mutable
    def countingSource(counts: mutable.Map[String, Int]): UmlsSource = {
      val inner = TestSpark.fixedSource(fixture)
      new UmlsSource {
        def table(name: String) = {
          counts.synchronized { counts(name) = counts.getOrElse(name, 0) + 1 }
          inner.table(name)
        }
      }
    }
    def run(sabs: Seq[String], shared: Boolean,
        counts: mutable.Map[String, Int]): String = {
      val out = Files.createTempDirectory("pipe-shared-out").toString
      val work = Files.createTempDirectory("pipe-shared-work").toString
      new UmlsPipeline(spark, countingSource(counts),
        sabs.map(s => OntologyJob(s, None, s"$s.ttl", loadOnCuis = false)),
        PipelineConfig(out, work, UmlsExportConfig(umlsVersion = "2025AB"),
          sharedScan = shared)).run()
      out
    }
    val direct = run(Seq("SABA", "SABB"), shared = false,
      mutable.Map.empty)
    val one = mutable.Map.empty[String, Int]
    run(Seq("SABA"), shared = true, one)
    val two = mutable.Map.empty[String, Int]
    val sharedOut = run(Seq("SABA", "SABB"), shared = true, two)
    // bytes identical: the union filter is a superset of every job's own
    for (f <- Seq("SABA.ttl", "SABB.ttl", "umls_semantictypes.ttl"))
      assert(Files.readAllBytes(Paths.get(s"$direct/$f")).toSeq ===
        Files.readAllBytes(Paths.get(s"$sharedOut/$f")).toSeq, f)
    // the point of the cache: doubling the manifest does NOT grow the
    // number of inner-source reads of any fat table (validate-probe reads
    // are job-count-independent too, so totals match exactly)
    for (t <- Seq("MRCONSO", "MRREL", "MRDEF", "MRSAT"))
      assert(two.getOrElse(t, 0) === one.getOrElse(t, 0),
        s"$t scan count grew with the manifest: $one vs $two")
  }

  test("run-level lookups: MRSAB, MRRANK and MRDOC reads do not grow with " +
    "the manifest, and every lookup job is labelled graft:run:<lookup>") {
    import graft.sources.UmlsSource
    import scala.collection.mutable
    val group = "graft-run-lookups-pin"
    val descs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = js.properties
        if (props != null &&
            group == props.getProperty("spark.jobGroup.id")) {
          descs.add(String.valueOf(
            props.getProperty("spark.job.description")))
          ()
        }
      }
    }
    def run(sabs: Seq[String]): Map[String, Int] = {
      val counts = mutable.Map.empty[String, Int]
      val inner = TestSpark.fixedSource(fixture)
      val counting = new UmlsSource {
        def table(name: String) = {
          counts.synchronized { counts(name) = counts.getOrElse(name, 0) + 1 }
          inner.table(name)
        }
      }
      val out = Files.createTempDirectory("pipe-lookups-out").toString
      new UmlsPipeline(spark, counting,
        sabs.map(s => OntologyJob(s, None, s"$s.ttl", loadOnCuis = false)),
        PipelineConfig(out, s"$out/.state",
          UmlsExportConfig(umlsVersion = "2025AB"))).run()
      counts.toMap
    }
    spark.sparkContext.addSparkListener(listener)
    val (one, two) =
      try {
        spark.sparkContext.setJobGroup(group, "run lookups pin")
        (run(Seq("SABA")), run(Seq("SABA", "SABB")))
      } finally {
        spark.sparkContext.clearJobGroup()
        Thread.sleep(1500) // listener events are posted asynchronously
        spark.sparkContext.removeSparkListener(listener)
      }
    for (t <- Seq("MRSAB", "MRRANK", "MRDOC"))
      assert(two.getOrElse(t, 0) === one.getOrElse(t, 0),
        s"$t read count grew with the manifest: $one vs $two")
    import scala.jdk.CollectionConverters._
    val runLabels = descs.asScala.filter(_.startsWith("graft:run:")).toSet
    assert(runLabels === Set("graft:run:release_lookups",
      "graft:run:semantic_types", "graft:run:property_docs"), descs)
  }

  test("q25m dataflow (multiSabExport): parallel shared-scan exports " +
    "keep inner fat-table reads job-count-independent and write every " +
    "SAB's file") {
    import graft.sources.UmlsSource
    import scala.collection.mutable
    def countingSource(counts: mutable.Map[String, Int]): UmlsSource = {
      val inner = TestSpark.fixedSource(fixture)
      new UmlsSource {
        def table(name: String) = {
          counts.synchronized { counts(name) = counts.getOrElse(name, 0) + 1 }
          inner.table(name)
        }
      }
    }
    def run(sabs: Seq[String], counts: mutable.Map[String, Int]) = {
      val outDir = Files.createTempDirectory("msab-out").toFile
      val reports = graft.catalog.UmlsQueries.multiSabExport(spark,
        countingSource(counts), sabs, outDir)
      sabs.foreach { sab =>
        assert(new java.io.File(outDir, s"$sab.ttl").length() > 0L, sab)
      }
      reports
    }
    val one = mutable.Map.empty[String, Int]
    val repOne = run(Seq("SABA"), one)
    val two = mutable.Map.empty[String, Int]
    val repTwo = run(Seq("SABA", "SABB"), two)
    assert(repOne.map(_.sab) === Seq("SABA"))
    assert(repTwo.map(_.sab) === Seq("SABA", "SABB"))
    assert(repTwo.forall(r => r.terms > 0 && r.errors == 0))
    // the shared scan's point: doubling the SAB manifest must NOT grow
    // the number of inner-source reads of any fat table
    for (t <- Seq("MRCONSO", "MRREL", "MRDEF", "MRSAT"))
      assert(two.getOrElse(t, 0) === one.getOrElse(t, 0),
        s"$t read count grew with the manifest: $one vs $two")
  }

  test("a completed run resumes as a no-op") {
    val out = Files.createTempDirectory("pipe-out").toString
    val work = Files.createTempDirectory("pipe-work").toString
    mkPipeline(out, work).run()
    val second = mkPipeline(out, work)
    second.run()
    assert(second.executed.isEmpty)
  }

  test("a killed run resumes from the first incomplete step") {
    val out = Files.createTempDirectory("pipe-out").toString
    val work = Files.createTempDirectory("pipe-work").toString
    // Simulate a run that died after SABA: pre-seed the state file and
    // the output the earlier run produced.
    val st = new PipelineState(s"$work/pipeline_state.json")
    st.markDone("validate_source")
    st.markDone("semantic_types")
    st.markDone("ontology:SABA")
    Files.write(Paths.get(s"$out/SABA.ttl"), "# from run 1\n".getBytes)
    val p = mkPipeline(out, work)
    p.run()
    assert(p.executed == Seq("ontology:SABB", "validate_output"))
    assert(Files.exists(Paths.get(s"$out/SABB.ttl")))
    // The resume-skipped step did not re-render SABA (content untouched).
    assert(Files.readAllBytes(Paths.get(s"$out/SABA.ttl")).length == 13L)
  }

  test("a resumed run fails validate_output when an earlier output vanished") {
    // The reference re-checks ALL expected outputs on every run
    // (`run_umls_pipeline.py:286-290`); resume-skip must not exempt a
    // deleted/truncated file.
    val out = Files.createTempDirectory("pipe-out").toString
    val work = Files.createTempDirectory("pipe-work").toString
    val st = new PipelineState(s"$work/pipeline_state.json")
    st.markDone("validate_source")
    st.markDone("semantic_types")
    st.markDone("ontology:SABA") // ...but SABA.ttl was deleted since
    val ex = intercept[IllegalArgumentException](mkPipeline(out, work).run())
    assert(ex.getMessage.contains("SABA.ttl"))
  }

  test("state file round-trips through markDone/load") {
    val work = Files.createTempDirectory("pipe-state").toString
    val path = s"$work/pipeline_state.json"
    val st = new PipelineState(path)
    st.markDone("a")
    st.markDone("ontology:X\"quoted\"")
    val reloaded = new PipelineState(path)
    assert(reloaded.isDone("a"))
    assert(reloaded.isDone("ontology:X\"quoted\""))
    assert(!reloaded.isDone("b"))
  }

  test("source probe fails on an empty MRCONSO (R2)") {
    val out = Files.createTempDirectory("pipe-out").toString
    val work = Files.createTempDirectory("pipe-work").toString
    val empty = fixture + ("MRCONSO" -> TestSpark.mkTable("MRCONSO", Nil))
    val p = new UmlsPipeline(spark, TestSpark.fixedSource(empty), jobs,
      PipelineConfig(out, work, UmlsExportConfig(umlsVersion = "2025AB")))
    val ex = intercept[IllegalArgumentException](p.run())
    assert(ex.getMessage.contains("MRCONSO is empty"))
  }

  test("config validation rejects a blank version (R4)") {
    val out = Files.createTempDirectory("pipe-out").toString
    val work = Files.createTempDirectory("pipe-work").toString
    intercept[IllegalArgumentException] {
      new UmlsPipeline(spark, TestSpark.fixedSource(fixture), jobs,
        PipelineConfig(out, work, UmlsExportConfig(umlsVersion = "")))
    }
  }

  test("config validation rejects a manifest that lists a SAB twice (R4)") {
    val out = Files.createTempDirectory("pipe-out").toString
    val ex = intercept[IllegalArgumentException] {
      new UmlsPipeline(spark, TestSpark.fixedSource(fixture),
        jobs :+ OntologyJob("SABA", None, "SABA-again.ttl", loadOnCuis = true),
        PipelineConfig(out, s"$out/.state",
          UmlsExportConfig(umlsVersion = "2025AB")))
    }
    assert(ex.getMessage.contains("lists a SAB twice: List(SABA)"))
  }

  test("exit code: --strict fails on any term error; without it only an " +
    "ontology with errors and no terms fails") {
    import graft.UmlsExportMain.exitCode
    def report(sab: String, terms: Long, errors: Long) =
      WriteReport(sab, s"$sab.ttl", terms, errors, 0, 0, 0)
    val clean = report("A", 10, 0)
    val someErrors = report("B", 9, 1)
    val allErrors = report("C", 0, 3)
    val resumed = WriteReport("D", "D.ttl", 0, 0, 0, 0, 0,
      skipped = true, resumed = true)
    for (strict <- Seq(false, true)) {
      assert(exitCode(Seq(clean, resumed), strict) === 0, s"strict=$strict")
      assert(exitCode(Seq(clean, allErrors), strict) === 1, s"strict=$strict")
    }
    assert(exitCode(Seq(clean, someErrors), strict = false) === 0)
    assert(exitCode(Seq(clean, someErrors), strict = true) === 1)
  }

  // ---- one plan per manifest mode group ---------------------------------

  private def rel(cui1: String, aui1: String, cui2: String, aui2: String,
      rel: String, sab: String): Map[String, String] =
    Map("CUI1" -> cui1, "AUI1" -> aui1, "CUI2" -> cui2, "AUI2" -> aui2,
      "REL" -> rel, "SAB" -> sab, "SUPPRESS" -> "N")

  private def mrsab(sab: String, imeta: String = "2025AB") =
    Map("RSAB" -> sab, "VSAB" -> s"${sab}1", "CURVER" -> "Y", "LAT" -> "ENG",
      "IMETA" -> imeta)

  /** Five codes SABs and two cuis SABs that share codes, CUIs, a MeSH
    * D-code and an ICD10CM-style root rel, and a codes SAB (KC) whose
    * CODEs are the cuis SABs' CUIs, so that any resolution that crosses
    * SABs or load modes changes some SAB's file. */
  private val groupRows: Map[String, Seq[Map[String, String]]] = Map(
    "MRCONSO" -> Seq(
      conso("C1", "A1", "X1", "Alpha", "PT", "KA"),
      conso("C3", "A3", "X1", "Alpha synonym", "SY", "KA"),
      conso("C2", "A2", "X2", "Alpha two", "PT", "KA"),
      conso("C7", "A7", "D000002", "Alpha dee", "PT", "KA"),
      conso("C1", "B1", "X1", "Beta one", "PT", "KB"),
      conso("C4", "B2", "X3", "Beta three", "PT", "KB"),
      conso("CM1", "AM1", "D000001", "Mesh parent", "MH", "MSH"),
      conso("CM2", "AM2", "D000002", "Mesh child", "MH", "MSH"),
      conso("CI1", "AI1", "A00", "Cholera", "PT", "ICD10CM"),
      conso("C9", "CA1", "Q1", "Cee a", "PT", "CA") + ("ISPREF" -> "Y"),
      conso("C8", "CA2", "Q2", "Cee a two", "PT", "CA") + ("ISPREF" -> "Y"),
      conso("C9", "CB1", "R1", "Cee b", "PT", "CB") + ("ISPREF" -> "Y"),
      conso("CK1", "K1", "C9", "Kay nine", "PT", "KC"),
      conso("CK2", "K2", "C8", "Kay eight", "PT", "KC"),
      conso("C9", "K3", "C8", "Kay eight synonym", "SY", "KC"),
      conso("CR", "AR", "V-KA", "KA root", "PT", "SRC")),
    "MRREL" -> Seq(
      rel("C2", "A2", "C1", "A1", "CHD", "KA"),
      rel("CR", "AR0", "C2", "A2", "CHD", "KA"), // V-KA root
      // targets that resolve only in the other codes SAB: dropped
      rel("C4", "B2", "C1", "A1", "RO", "KA"),
      rel("C2", "A2", "C1", "B1", "RO", "KB"),
      // anchored at the other SAB's atom: attaches to nothing
      rel("C4", "B2", "C7", "A7", "RO", "KB"),
      // the ICD10CM root patch rel, also present in KA
      rel("C3264380", "AX", "CI1", "AI1", "CHD", "ICD10CM"),
      rel("C3264380", "AX", "C1", "A1", "CHD", "KA"),
      rel("CM1", "AM1", "CM2", "AM2", "CHD", "MSH"),
      rel("C8", "CA2", "C9", "CA1", "RO", "CA"),
      rel("C8", "CX", "C9", "CB1", "RN", "CB"),
      // a cuis self-rel (kept) and a codes self-map (dropped, `:715-718`)
      rel("C9", "CA1", "C9", "CA1", "RO", "CA"),
      rel("CK1", "K1", "CK1", "K1", "RO", "KC"),
      // KC's C9 -> C8, by AUI; by CUI it would attach to CA's and CB's C9
      rel("CK2", "K2", "CK1", "K1", "RO", "KC"),
      rel("C9", "K3", "C8", "CA2", "RO", "KC"),
      // CA's rel on C1, which is no CA class: no CA term
      rel("C9", "CA1", "C1", "A1", "RO", "CA")),
    "MRDEF" -> Seq(
      Map("CUI" -> "C1", "AUI" -> "A1", "SAB" -> "KA", "DEF" -> "Def KA"),
      Map("CUI" -> "C1", "AUI" -> "B1", "SAB" -> "KB", "DEF" -> "Def KB"),
      Map("CUI" -> "C9", "AUI" -> "CA1", "SAB" -> "CA", "DEF" -> "Def CA"),
      Map("CUI" -> "C9", "AUI" -> "CB1", "SAB" -> "CB", "DEF" -> "Def CB"),
      Map("CUI" -> "CK1", "AUI" -> "K1", "SAB" -> "KC", "DEF" -> "Def KC")),
    "MRSAT" -> Seq(
      Map("CUI" -> "C1", "CODE" -> "X1", "ATN" -> "TH", "ATV" -> "ka",
        "SAB" -> "KA"),
      Map("CUI" -> "C1", "CODE" -> "X1", "ATN" -> "TH", "ATV" -> "kb",
        "SAB" -> "KB"),
      Map("CUI" -> "C9", "CODE" -> "Q1", "ATN" -> "TH", "ATV" -> "ca",
        "SAB" -> "CA"),
      Map("CUI" -> "CK1", "CODE" -> "C9", "ATN" -> "TH", "ATV" -> "kc",
        "SAB" -> "KC")),
    "MRRANK" -> Seq( // MSH finishes by A7, the others by A9
      Map("RANK" -> "0400", "SAB" -> "MSH", "TTY" -> "MH",
        "SUPPRESS" -> "N")),
    "MRSTY" -> Seq(
      Map("CUI" -> "C1", "TUI" -> "T001", "STN" -> "A1", "STY" -> "Entity"),
      Map("CUI" -> "C9", "TUI" -> "T002", "STN" -> "A1.1",
        "STY" -> "Object")),
    "MRSAB" ->
      Seq("KA", "KB", "MSH", "ICD10CM", "CA", "CB", "KC").map(mrsab(_)),
    "MRDOC" -> Seq(
      Map("DOCKEY" -> "REL", "VALUE" -> "RO", "TYPE" -> "expanded_form",
        "EXPL" -> "related"),
      Map("DOCKEY" -> "REL", "VALUE" -> "RN", "TYPE" -> "expanded_form",
        "EXPL" -> "narrower"),
      Map("DOCKEY" -> "ATN", "VALUE" -> "TH", "TYPE" -> "expanded_form",
        "EXPL" -> "thesaurus"))
  )

  private def groupSource(rows: Map[String, Seq[Map[String, String]]] =
      groupRows) =
    TestSpark.fixedSource(
      rows.map { case (t, r) => t -> TestSpark.mkTable(t, r) })

  private def job(sab: String, cuis: Boolean = false) =
    OntologyJob(sab, None, s"$sab.ttl", loadOnCuis = cuis)

  private def exportTo(out: String, jobs: Seq[OntologyJob],
      rows: Map[String, Seq[Map[String, String]]] = groupRows,
      conf: UmlsExportConfig = UmlsExportConfig(umlsVersion = "2025AB"),
      work: Option[String] = None): Seq[WriteReport] =
    new UmlsPipeline(spark, groupSource(rows), jobs,
      PipelineConfig(out, work.getOrElse(s"$out/.state"), conf)).run()

  private def bytes(path: String): Seq[Byte] =
    Files.readAllBytes(Paths.get(path)).toSeq

  /** Export `jobs` as one manifest, then each job as its own manifest:
    * every grouped file must equal its one-SAB export. Returns the
    * grouped run's directory and reports. */
  private def assertGroupedEqualsSingles(jobs: Seq[OntologyJob],
      rows: Map[String, Seq[Map[String, String]]] = groupRows,
      conf: UmlsExportConfig = UmlsExportConfig(umlsVersion = "2025AB"))
      : (String, Seq[WriteReport]) = {
    val grouped = Files.createTempDirectory("pipe-group").toString
    val reports = exportTo(grouped, jobs, rows, conf)
    jobs.zip(reports).filterNot(_._2.skipped).foreach { case (j, _) =>
      val alone = Files.createTempDirectory("pipe-alone").toString
      exportTo(alone, Seq(j), rows, conf)
      val (g, a) = (s"$grouped/${j.outFile}", s"$alone/${j.outFile}")
      assert(bytes(g) == bytes(a), s"${j.sab}: the grouped file differs " +
        s"from its one-SAB export:\n${text(g)}\n--- one-SAB:\n${text(a)}")
    }
    (grouped, reports)
  }

  private def text(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)

  test("mode groups: two cuis SABs sharing a CUI each export their own " +
    "class, as their one-SAB manifests do") {
    val (out, reports) =
      assertGroupedEqualsSingles(
        Seq(job("CA", cuis = true), job("CB", cuis = true)))
    assert(reports.map(r => (r.sab, r.terms, r.errors)) ===
      Seq(("CA", 2L, 0L), ("CB", 1L, 0L)))
    val ca = text(s"$out/CA.ttl")
    val cb = text(s"$out/CB.ttl")
    assert(ca.contains("\"\"\"Cee a\"\"\"@en") && !ca.contains("Cee b"))
    assert(cb.contains("\"\"\"Cee b\"\"\"@en") && !cb.contains("Cee a"))
    assert(ca.contains("Def CA") && !ca.contains("Def CB"))
    assert(cb.contains("/CB/RN>") && !ca.contains("/CA/RN>"))
  }

  test("mode groups: two codes SABs sharing a CODE keep their labels, " +
    "definitions and attributes apart") {
    val (out, reports) = assertGroupedEqualsSingles(Seq(job("KA"), job("KB")))
    assert(reports.map(r => (r.sab, r.terms)) === Seq(("KA", 3L), ("KB", 2L)))
    val ka = text(s"$out/KA.ttl")
    val kb = text(s"$out/KB.ttl")
    assert(ka.contains("Def KA") && !ka.contains("Def KB"))
    assert(kb.contains("Def KB") && !kb.contains("Def KA"))
    assert(ka.contains("Alpha synonym") && !kb.contains("Alpha"))
    assert(ka.contains("\"\"\"ka\"\"\"") && !ka.contains("\"\"\"kb\"\"\""))
  }

  test("mode groups: a rel whose AUI resolves only in another SAB of the " +
    "group stays unresolved") {
    val (out, _) = assertGroupedEqualsSingles(Seq(job("KA"), job("KB")))
    // KA's X1 -> KB's atom B2 and KB's X1 -> KA's atom A2 resolve in the
    // other SAB only; KB's rel anchored at KA's atom A7 attaches nowhere.
    assert(!text(s"$out/KA.ttl").contains("/KA/RO>"))
    assert(!text(s"$out/KB.ttl").contains("/KB/RO>"))
    // the in-SAB CHD rel and the V-KA root still resolve
    assert(text(s"$out/KA.ttl").contains(
      "rdfs:subClassOf <http://purl.bioontology.org/ontology/KA/X2>"))
    assert(text(s"$out/KA.ttl").contains("rdfs:subClassOf owl:Thing"))
  }

  test("mode groups: the MeSH tree and the ICD10CM root patch touch only " +
    "their own SAB") {
    val (out, _) = assertGroupedEqualsSingles(
      Seq(job("KA"), job("MSH"), job("ICD10CM")))
    val msh = text(s"$out/MSH.ttl")
    val ka = text(s"$out/KA.ttl")
    assert(msh.contains(
      "rdfs:subClassOf <http://purl.bioontology.org/ontology/MSH/D000001>"))
    // KA's own D000002 gets no tree parent, and KA's CHD rel from
    // C3264380 is no root patch
    assert(!ka.contains("/D000001>"))
    def term(ttl: String, code: String): String = {
      val from = ttl.indexOf(s"/$code> a owl:Class")
      ttl.substring(from, ttl.indexOf(" .\n", from))
    }
    assert(!term(ka, "X1").contains("owl:Thing"))
    assert(term(text(s"$out/ICD10CM.ttl"), "A00").contains(
      "rdfs:subClassOf owl:Thing"))
  }

  test("mode groups: per-SAB error counts, and the error log is capped " +
    "per SAB") {
    def bad(sab: String, n: Int) = (1 to n).map(i =>
      conso(s"C$sab$i", s"A$sab$i", s"BAD$i", s"Unlabelable $i", "SY", sab))
    val rows = groupRows +
      ("MRCONSO" ->
        (groupRows("MRCONSO") ++ bad("KA", 1200) ++ bad("KB", 1003)))
    val err = new java.io.ByteArrayOutputStream()
    val before = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val (_, reports) =
      try assertGroupedEqualsSingles(Seq(job("KA"), job("KB")), rows)
      finally System.setErr(before)
    assert(reports.map(r => (r.sab, r.terms, r.errors)) ===
      Seq(("KA", 3L, 1200L), ("KB", 2L, 1003L)))
    // three runs logged: the group, then KA alone, then KB alone
    val lines = err.toString("UTF-8").linesIterator.toSeq
    assert(lines.count(_.startsWith("ERROR dumping term BAD")) === 4000)
    assert(lines.filter(_.startsWith("... and ")).map(_.split(" ")(2)) ===
      Seq("200", "3", "200", "3"))
  }

  test("mode groups: --strict fails the group naming the offending SAB, " +
    "before any of its files is published") {
    val rows = groupRows +
      ("MRCONSO" -> (groupRows("MRCONSO") :+ conso("C5", "B5", "", "No code",
        "PT", "KB")))
    val out = Files.createTempDirectory("pipe-strict").toString
    val ex = intercept[IllegalStateException](exportTo(out,
      Seq(job("KA"), job("KB")), rows,
      UmlsExportConfig(umlsVersion = "2025AB", strict = true)))
    assert(ex.getMessage.contains("atoms with empty CODE in SAB KB"),
      ex.getMessage)
    assert(!Files.exists(Paths.get(s"$out/KA.ttl")))
    assert(!Files.exists(Paths.get(s"$out/KB.ttl")))
  }

  test("mode groups: a missing MRSAB LAT fails the group before any of " +
    "its files is published") {
    val rows = groupRows + ("MRSAB" -> Seq(mrsab("KA"), mrsab("KB") - "LAT"))
    val out = Files.createTempDirectory("pipe-nolat").toString
    val ex = intercept[IllegalStateException](
      exportTo(out, Seq(job("KA"), job("KB")), rows))
    assert(ex.getMessage === "No LAT found in MRSAB for ontology KB")
    assert(!Files.exists(Paths.get(s"$out/KA.ttl")))
  }

  test("mode groups: an F18 version-gate skip inside a group leaves the " +
    "other SABs' files as their one-SAB manifests write them") {
    val rows = groupRows +
      ("MRSAB" -> Seq(mrsab("KA"), mrsab("KB", imeta = "2024AA"), mrsab("MSH")))
    val conf = UmlsExportConfig(umlsVersion = "2025AB",
      processOnlyCurrentVersion = true)
    val (out, reports) = assertGroupedEqualsSingles(
      Seq(job("KA"), job("KB"), job("MSH")), rows, conf)
    assert(reports.map(r => (r.sab, r.skipped)) ===
      Seq(("KA", false), ("KB", true), ("MSH", false)))
    assert(!Files.exists(Paths.get(s"$out/KB.ttl")))
  }

  test("mode groups: a kill between two SABs of one group resumes to " +
    "byte-identical files with no stale temp file or parts") {
    val jobs = Seq(job("KA"), job("KB"), job("CA", cuis = true))
    val full = Files.createTempDirectory("pipe-kill-full").toString
    exportTo(full, jobs)
    // The killed run published KA and died before KB: its state names KA,
    // and its KB temp file and the export's parts are still on disk.
    val out = Files.createTempDirectory("pipe-kill-out").toString
    val work = Files.createTempDirectory("pipe-kill-work").toString
    val st = new PipelineState(s"$work/pipeline_state.json")
    Seq("validate_source", "semantic_types", "ontology:KA")
      .foreach(st.markDone)
    for (f <- Seq("KA.ttl", "umls_semantictypes.ttl"))
      Files.copy(Paths.get(s"$full/$f"), Paths.get(s"$out/$f"))
    Files.write(Paths.get(s"$out/KB.ttl.tmp"), "half a file".getBytes)
    Files.createDirectories(Paths.get(s"$work/parts"))
    Files.write(Paths.get(s"$work/parts/part-00000-stale.parquet"),
      "stale".getBytes)
    val p = new UmlsPipeline(spark, groupSource(), jobs,
      PipelineConfig(out, work, UmlsExportConfig(umlsVersion = "2025AB")))
    val reports = p.run()
    assert(p.executed.toSet ===
      Set("ontology:KB", "ontology:CA", "validate_output"))
    assert(reports.map(r => (r.sab, r.resumed)) ===
      Seq(("KA", true), ("KB", false), ("CA", false)))
    for (f <- Seq("KA.ttl", "KB.ttl", "CA.ttl"))
      assert(bytes(s"$out/$f") === bytes(s"$full/$f"), f)
    assert(new java.io.File(out).list().toSet ===
      Set("KA.ttl", "KB.ttl", "CA.ttl", "umls_semantictypes.ttl"))
    assert(new java.io.File(work).list().toSeq === Seq("pipeline_state.json"))
  }

  test("mode groups: a manifest of two codes and two cuis SABs runs " +
    "exactly one write execution") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    val out = Files.createTempDirectory("pipe-writes").toString
    val writes = new java.util.concurrent.LinkedBlockingQueue[String]()
    val helper = new AdaptiveSparkPlanHelper {}
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        helper.collect(qe.executedPlan) {
          case w: DataWritingCommandExec => w.cmd
        }.foreach {
          case i: InsertIntoHadoopFsRelationCommand
              if i.outputPath.toString.contains(out) =>
            writes.add(i.outputPath.toString)
          case _ => ()
        }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val reports =
      try exportTo(out, Seq(job("KA"), job("CA", cuis = true), job("KB"),
        job("CB", cuis = true)))
      finally {
        Thread.sleep(1500) // listener events arrive asynchronously
        spark.listenerManager.unregister(listener)
      }
    assert(reports.map(_.sab) === Seq("KA", "CA", "KB", "CB"))
    import scala.jdk.CollectionConverters._
    assert(writes.asScala.toSeq.map(p => p.substring(p.lastIndexOf('/') + 1))
      === Seq("parts"), writes)
  }

  test("one plan: a manifest mixing load modes writes each file as its " +
    "one-SAB manifest does") {
    val (out, reports) = assertGroupedEqualsSingles(Seq(job("KA"),
      job("CA", cuis = true), job("MSH"), job("ICD10CM"), job("KC")))
    assert(reports.map(r => (r.sab, r.terms, r.errors)) === Seq(("KA", 3L, 0L),
      ("CA", 2L, 0L), ("MSH", 2L, 0L), ("ICD10CM", 1L, 0L), ("KC", 2L, 0L)))
    def term(sab: String, code: String): String = {
      val ttl = text(s"$out/$sab.ttl")
      val from = ttl.indexOf(s"/$sab/$code> a owl:Class")
      assert(from >= 0, s"$sab has no class $code:\n$ttl")
      ttl.substring(from, ttl.indexOf(" .\n", from))
    }
    // KC's codes are CA's CUIs: KC keys its classes, definitions and
    // attributes by CODE and resolves its rels by AUI; CA keys by CUI.
    val kc9 = term("KC", "C9")
    assert(kc9.contains("Kay nine") && kc9.contains("Def KC") &&
      kc9.contains("\"\"\"kc\"\"\""), kc9)
    assert(kc9.contains("/KC/RO> <http://purl.bioontology.org/ontology/KC/C8>"),
      kc9)
    assert(!kc9.contains("/KC/RO> <http://purl.bioontology.org/ontology/KC/C9>"),
      kc9) // the self-map is dropped
    assert(!term("KC", "C8").contains("/KC/RO>"), term("KC", "C8"))
    val ca9 = term("CA", "C9")
    assert(ca9.contains("Cee a") && ca9.contains("Def CA") &&
      !ca9.contains("Kay"), ca9)
    assert(ca9.contains("/CA/RO> <http://purl.bioontology.org/ontology/CA/C9>"),
      ca9) // a cuis self-rel is kept
    assert(!text(s"$out/CA.ttl").contains("/CA/C1>"))
    assert(term("MSH", "D000002").contains(
      "rdfs:subClassOf <http://purl.bioontology.org/ontology/MSH/D000001>"))
    assert(term("ICD10CM", "A00").contains("rdfs:subClassOf owl:Thing"))
  }

  test("one plan: MSH listed load_on_cuis exports the bytes the " +
    "mode-group export wrote, alone or beside codes SABs") {
    val (out, _) = assertGroupedEqualsSingles(
      Seq(job("KA"), job("MSH", cuis = true), job("CA", cuis = true)))
    val msh = text(s"$out/MSH.ttl")
    // CUI classes: the D-tree, keyed by D-code, gives them no parent, and
    // the CHD rel is no subClassOf under the tree rules.
    def cuiClass(cui: String, label: String): String = {
      val q = "\"\"\""
      s"<http://purl.bioontology.org/ontology/MSH/$cui> a owl:Class ;\n" +
        s"\tskos:prefLabel $q$label$q@en ;\n" +
        s"\tskos:notation $q$cui$q^^xsd:string ;\n" +
        s"\tumls:cui $q$cui$q^^xsd:string ;\n .\n"
    }
    assert(msh.contains(cuiClass("CM1", "Mesh parent") + "\n" +
      cuiClass("CM2", "Mesh child")), msh)
    // The whole file, as the export with one plan per load mode wrote it.
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(Paths.get(s"$out/MSH.ttl")))
      .map("%02x".format(_)).mkString
    assert(sha ===
      "1376c11abd87b475a8c200e014d7a348a4746e41f81a36a608fc65aefd9a72a5")
  }

  test("one plan: --strict checks only the load_on_codes SABs of a " +
    "manifest mixing load modes") {
    // A cuis SAB's atom with an empty CODE is keyed by its CUI: --strict
    // lets it pass in a mixed manifest, as in a cuis-only one.
    val rows = groupRows + ("MRCONSO" -> (groupRows("MRCONSO") :+
      (conso("C9", "CA9", "", "Cee a no code", "SY", "CA") + ("ISPREF" -> "N"))))
    val strict = UmlsExportConfig(umlsVersion = "2025AB", strict = true)
    val (out, reports) = assertGroupedEqualsSingles(
      Seq(job("KA"), job("CA", cuis = true)), rows, strict)
    assert(reports.map(r => (r.sab, r.terms, r.errors)) ===
      Seq(("KA", 3L, 0L), ("CA", 2L, 0L)))
    assert(text(s"$out/CA.ttl").contains("Cee a no code"))
  }

  test("mode groups: when one group fails, run() still waits for the " +
    "other to publish and mark its file, and leaves no parts behind") {
    // One plan exports both modes, so a cuis SAB without a LAT fails the
    // whole manifest: no file is published and no ontology is marked.
    val rows = groupRows + ("MRSAB" -> Seq(mrsab("KA"), mrsab("CA") - "LAT"))
    val out = Files.createTempDirectory("pipe-wait").toString
    val ex = intercept[IllegalStateException](
      exportTo(out, Seq(job("KA"), job("CA", cuis = true)), rows))
    assert(ex.getMessage === "No LAT found in MRSAB for ontology CA")
    assert(!Files.exists(Paths.get(s"$out/KA.ttl")))
    assert(!Files.exists(Paths.get(s"$out/CA.ttl")))
    val state = new PipelineState(s"$out/.state/pipeline_state.json")
    assert(!state.isDone("ontology:KA") && !state.isDone("ontology:CA"))
    assert(new java.io.File(s"$out/.state").list().toSeq ===
      Seq("pipeline_state.json"))
  }

  test("mode groups: a run with an F18 version-gate skip, killed before " +
    "validate_output, resumes and passes") {
    val rows = groupRows +
      ("MRSAB" -> Seq(mrsab("KA"), mrsab("KB", imeta = "2024AA")))
    val conf = UmlsExportConfig(umlsVersion = "2025AB",
      processOnlyCurrentVersion = true)
    val jobs = Seq(job("KA"), job("KB"))
    val out = Files.createTempDirectory("pipe-f18-resume").toString
    exportTo(out, jobs, rows, conf)
    val statePath = Paths.get(s"$out/.state/pipeline_state.json")
    val done = text(statePath.toString)
    assert(done.endsWith(", \"validate_output\"]}"), done)
    Files.write(statePath, done.replace(", \"validate_output\"", "")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val reports = exportTo(out, jobs, rows, conf)
    assert(reports.map(r => (r.sab, r.skipped, r.resumed)) ===
      Seq(("KA", true, true), ("KB", true, false)))
    assert(!Files.exists(Paths.get(s"$out/KB.ttl")))
  }

  test("mode groups: an export over MSH and a cuis SAB asks the driver " +
    "nothing between the lookups and the writes") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val out = Files.createTempDirectory("pipe-no-probe").toString
    // Every SQL execution as it starts (description, root execution,
    // plan), and the action name of every one that ends.
    val started = new java.util.concurrent.ConcurrentHashMap[Long,
      SparkListenerSQLExecutionStart]()
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val starts = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          started.put(s.executionId, s); ()
        case _ => ()
      }
    }
    val ends = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        actions.add(f); ()
      }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    // MRREL counts the rows its scans read.
    val relReads = spark.sparkContext.longAccumulator("test.mrrelReads")
    val tables = groupRows.map { case (t, r) => t -> TestSpark.mkTable(t, r) }
    val rel = tables("MRREL")
    val source = TestSpark.fixedSource(tables + ("MRREL" -> spark
      .createDataFrame(rel.rdd.map { r => relReads.add(1); r }, rel.schema)))
    spark.sparkContext.addSparkListener(starts)
    spark.listenerManager.register(ends)
    val reports =
      try new UmlsPipeline(spark, source, Seq(job("MSH"), job("CA", cuis = true)),
        PipelineConfig(out, s"$out/.state",
          UmlsExportConfig(umlsVersion = "2025AB"))).run()
      finally {
        org.apache.spark.sql.GraftSqlShims.waitForListeners(spark)
        spark.listenerManager.unregister(ends)
        spark.sparkContext.removeSparkListener(starts)
      }
    assert(reports.map(r => (r.sab, r.terms)) === Seq(("MSH", 2L), ("CA", 2L)))
    assert(text(s"$out/MSH.ttl").contains(
      "rdfs:subClassOf <http://purl.bioontology.org/ontology/MSH/D000001>"))
    val ours = started.asScala.filter { case (_, s) =>
      !s.physicalPlanDescription.contains("InsertIntoHadoopFsRelation") ||
        s.physicalPlanDescription.contains(out)
    }
    def isWrite(id: Long) = started.get(id).physicalPlanDescription
      .contains("InsertIntoHadoopFsRelation")
    val kinds = ours.toSeq.sortBy(_._1).map { case (id, s) =>
      val kind =
        if (s.description.startsWith("graft:run:")) "lookup"
        else if (s.description.startsWith("isEmpty at UmlsPipeline.scala"))
          "source probe"
        else if (isWrite(id)) "write"
        else if (s.rootExecutionId.exists(r => r != id && started
          .containsKey(r) && isWrite(r))) "inside a write"
        else s"unexpected: ${s.description}\n${s.physicalPlanDescription}"
      kind
    }
    assert(!kinds.exists(_.startsWith("unexpected")), kinds.mkString("\n"))
    assert(kinds.count(_ == "write") === 1, kinds)
    assert(kinds.count(_ == "source probe") === 1, kinds)
    // The source probe is the one isEmpty, and no execution but a write
    // reads the tree's CHD edges.
    assert(actions.asScala.count(_ == "isEmpty") === 1, actions)
    assert(!ours.exists { case (id, s) =>
      !isWrite(id) && s.physicalPlanDescription.contains("CHD")
    }, kinds)
    // MRREL is scanned twice: the rels and the tree, which the subquery
    // and the join read from one cache.
    assert(relReads.value === 2L * groupRows("MRREL").size)
  }

  test("manifest parser skips comments and parses alt URIs (S4/F19)") {
    val lines = Seq(
      "# comment line",
      "MSH,MESH.ttl,load_on_codes",
      "HL7V3.0;HL7,HL7.ttl,load_on_cuis",
      "").iterator
    val jobs = ConfManifest.parse(lines)
    assert(jobs == Seq(
      OntologyJob("MSH", None, "MESH.ttl", loadOnCuis = false),
      OntologyJob("HL7V3.0", Some("HL7"), "HL7.ttl", loadOnCuis = true)))
  }
}
