package graft.sink

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions.{col, hash, lit, pmod}

import graft.TestSpark
import graft.model.OntologyJob
import graft.render.SemanticTypes

/** End-to-end file export over an in-memory fixture: header metadata (port
  * of `tests/test_umls2rdf.py:352-376`), term rendering, property block
  * (J10/C8-C10), semantic-types append, per-term error tolerance (S6).
  */
class OntologyWriterSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def conso(cui: String, aui: String, code: String, str: String,
      tty: String, sab: String = "TEST"): Map[String, String] =
    Map("CUI" -> cui, "LAT" -> "ENG", "AUI" -> aui, "SAB" -> sab,
      "TTY" -> tty, "CODE" -> code, "STR" -> str, "SUPPRESS" -> "N")

  private val fixture = Map(
    "MRCONSO" -> TestSpark.mkTable("MRCONSO", Seq(
      conso("CUI_SOURCE", "AUI_SOURCE", "CODE1", "Source preferred", "PT"),
      conso("CUI_TARGET", "AUI_TARGET", "CODE2", "Target preferred", "PT"),
      conso("CUI_SELF", "AUI_SELF", "CODE1", "Source synonym", "SY"),
      // Single atom with no 'P' TTY and empty MRRANK -> prefLabel raises;
      // exercises the S6 per-term catch-and-continue path.
      conso("CUI_BAD", "AUI_BAD", "CODE3", "Unlabelable", "SY"))),
    "MRREL" -> TestSpark.mkTable("MRREL", Seq(
      Map("CUI1" -> "CUI_TARGET", "AUI1" -> "AUI_TARGET",
        "CUI2" -> "CUI_SOURCE", "AUI2" -> "AUI_SOURCE",
        "REL" -> "RO", "RELA" -> "mappedTo", "SAB" -> "TEST",
        "SUPPRESS" -> "N"))),
    "MRDEF" -> TestSpark.mkTable("MRDEF", Seq(
      Map("CUI" -> "CUI_SOURCE", "AUI" -> "AUI_SOURCE", "SAB" -> "TEST",
        "DEF" -> "A definition"))),
    "MRSAT" -> TestSpark.mkTable("MRSAT", Seq(
      Map("CUI" -> "CUI_SOURCE", "CODE" -> "CODE1", "ATN" -> "TH",
        "ATV" -> "NLM (1994)", "SAB" -> "TEST"),
      Map("CUI" -> "CUI_SOURCE", "CODE" -> "CODE1", "ATN" -> "AQ",
        "ATV" -> "skipme", "SAB" -> "TEST"))),
    "MRSTY" -> TestSpark.mkTable("MRSTY", Seq(
      Map("CUI" -> "CUI_SOURCE", "TUI" -> "T001", "STN" -> "A1",
        "STY" -> "Entity"),
      Map("CUI" -> "CUI_TARGET", "TUI" -> "T002", "STN" -> "A1.1",
        "STY" -> "Physical Object"))),
    "MRSAB" -> TestSpark.mkTable("MRSAB", Seq(
      Map("RSAB" -> "TEST", "VSAB" -> "TEST2025", "CURVER" -> "Y",
        "SVER" -> "2025-test-version", "IMETA" -> "2025AB",
        "SSN" -> "Test Ontology Title", "LAT" -> "ENG"),
      // Non-current older row: F9 must prefer CURVER='Y'.
      Map("RSAB" -> "TEST", "VSAB" -> "TEST2024", "CURVER" -> "N",
        "SVER" -> "2024-old", "IMETA" -> "2024AB",
        "SSN" -> "Old Title", "LAT" -> "ENG"))),
    "MRDOC" -> TestSpark.mkTable("MRDOC", Seq(
      Map("DOCKEY" -> "RELA", "VALUE" -> "mappedTo",
        "TYPE" -> "expanded_form", "EXPL" -> "Mapped to"),
      Map("DOCKEY" -> "RELA", "VALUE" -> "mappedTo",
        "TYPE" -> "rela_inverse", "EXPL" -> "mapped_from"),
      Map("DOCKEY" -> "ATN", "VALUE" -> "TH",
        "TYPE" -> "expanded_form", "EXPL" -> "Thesaurus ID"))))

  private def export(dir: String): (WriteReport, String) = {
    val source = TestSpark.fixedSource(fixture)
    val docs = graft.assemble.PropertyDocs.collectMap(fixture("MRDOC"))
    val semTypes = SemanticTypes.generate(fixture("MRSTY"),
      "http://purl.bioontology.org/ontology/STY/", withRoots = false)
    val report = OntologyWriter.write(spark, source,
      OntologyJob("TEST", None, "TEST.ttl", loadOnCuis = false),
      UmlsExportConfig(umlsVersion = "2025AB"),
      s"$dir/TEST.ttl", docs, semTypes)
    val text = new String(
      Files.readAllBytes(Paths.get(s"$dir/TEST.ttl")), StandardCharsets.UTF_8)
    (report, text)
  }

  private lazy val (report, ttl) = {
    val dir = Files.createTempDirectory("graft-ttl").toString
    export(dir)
  }

  test("writes ontology header metadata from the preferred MRSAB record") {
    assert(ttl.contains("<http://purl.bioontology.org/ontology/TEST/>"))
    assert(ttl.contains("rdfs:label \"Test Ontology Title\" ;"))
    assert(ttl.contains("owl:versionInfo \"2025-test-version\" ;"))
    assert(ttl.contains("dcterms:source \"UMLS 2025AB\""))
    assert(ttl.contains("skos:altLabel \"TEST\" ."))
    assert(ttl.startsWith("\n@prefix skos:"))
    assert(!ttl.contains("2024-old")) // F9: CURVER='Y' row wins
  }

  test("renders terms with labels, definitions, rels, atts, cui/tui lines") {
    assert(ttl.contains(
      "<http://purl.bioontology.org/ontology/TEST/CODE1> a owl:Class ;"))
    assert(ttl.contains("skos:prefLabel \"\"\"Source preferred\"\"\"@en ;"))
    assert(ttl.contains("skos:altLabel \"\"\"Source synonym\"\"\"@en ;"))
    assert(ttl.contains("skos:definition \"\"\"A definition\"\"\"@en ;"))
    assert(ttl.contains(
      "<http://purl.bioontology.org/ontology/TEST/mappedTo> " +
        "<http://purl.bioontology.org/ontology/TEST/CODE2> ;"))
    assert(ttl.contains(
      "<http://purl.bioontology.org/ontology/TEST/TH> " +
        "\"\"\"NLM (1994)\"\"\"^^xsd:string ;"))
    assert(!ttl.contains("skipme")) // F13: AQ attribute skipped
    assert(ttl.contains("umls:cui \"\"\"CUI_SOURCE\"\"\"^^xsd:string ;"))
    assert(ttl.contains("umls:tui \"\"\"T001\"\"\"^^xsd:string ;"))
    // Terms come out in code order.
    assert(ttl.indexOf("/TEST/CODE1> a owl:Class") <
      ttl.indexOf("/TEST/CODE2> a owl:Class"))
  }

  test("one unrenderable term is counted, not fatal (S6)") {
    assert(report.terms == 2)
    assert(report.errors == 1)
    assert(!ttl.contains("CODE3"))
  }

  test("property block renders accumulated predicates with MRDOC docs") {
    assert(ttl.contains("umls:hasSTY a owl:ObjectProperty ;"))
    // C10: inverse type overrides the description.
    assert(ttl.contains(
      "<http://purl.bioontology.org/ontology/TEST/mappedTo> a owl:ObjectProperty ;"))
    assert(ttl.contains("rdfs:comment \"\"\"Inverse of mapped_from\"\"\""))
    // C8: short description becomes the label.
    assert(ttl.contains(
      "<http://purl.bioontology.org/ontology/TEST/TH> a owl:DatatypeProperty ;"))
    assert(ttl.contains("rdfs:label \"\"\"Thesaurus ID\"\"\";"))
  }

  test("appends the rootless semantic-types block") {
    assert(ttl.contains(
      "<http://purl.bioontology.org/ontology/STY/T001> a owl:Class ;"))
    assert(ttl.contains(
      "<http://purl.bioontology.org/ontology/STY/T002> rdfs:subClassOf " +
        "<http://purl.bioontology.org/ontology/STY/T001> ."))
    // withRoots=false: no owl:Thing root for T001 in the appended block.
    assert(!ttl.contains(
      "<http://purl.bioontology.org/ontology/STY/T001> rdfs:subClassOf owl:Thing ."))
  }

  test("version gate skips a non-current ontology (F18)") {
    val dir = Files.createTempDirectory("graft-ttl2").toString
    val source = TestSpark.fixedSource(fixture)
    val r = OntologyWriter.write(spark, source,
      OntologyJob("TEST", None, "TEST.ttl", loadOnCuis = false),
      UmlsExportConfig(umlsVersion = "2026AA",
        processOnlyCurrentVersion = true),
      s"$dir/TEST.ttl", Map.empty, "")
    assert(r.skipped)
    assert(!Files.exists(Paths.get(s"$dir/TEST.ttl")))
  }

  test("an MSH export with a ZERO-EDGE tree renders tree-less " +
    "(truthiness parity with the reference's `if tree:`)") {
    // The reference's tree checks are truthiness tests
    // (`umls2rdf.py:411,422,437`): an MSH export whose D-tree query
    // returns no edges must not apply the tree rules — in particular the
    // F14 MN-root rule (MN att without '.' -> owl:Thing subclass) must NOT
    // fire. hasTree is therefore derived from tree non-emptiness, not from
    // sab == "MSH".
    def mshFixture(rel: Map[String, String]) = Map(
      "MRCONSO" -> TestSpark.mkTable("MRCONSO", Seq(
        conso("CM1", "AM1", "D000001", "MeSH Parent", "MH", "MSH"),
        conso("CM2", "AM2", "D000002", "MeSH Child", "MH", "MSH"))),
      "MRREL" -> TestSpark.mkTable("MRREL", Seq(rel)),
      "MRRANK" -> TestSpark.mkTable("MRRANK", Seq(
        Map("RANK" -> "0500", "SAB" -> "MSH", "TTY" -> "MH",
          "SUPPRESS" -> "N"))),
      "MRSAT" -> TestSpark.mkTable("MRSAT", Seq(
        // MN without '.' on a D-code: fires the F14 owl:Thing rule IFF the
        // export has a tree.
        Map("CUI" -> "CM2", "CODE" -> "D000002", "ATN" -> "MN",
          "ATV" -> "D1", "SAB" -> "MSH"))),
      "MRSAB" -> TestSpark.mkTable("MRSAB", Seq(
        Map("RSAB" -> "MSH", "VSAB" -> "MSH2025", "CURVER" -> "Y",
          "LAT" -> "ENG"))),
      "MRDOC" -> TestSpark.mkTable("MRDOC", Seq(
        Map("DOCKEY" -> "ATN", "VALUE" -> "MN", "TYPE" -> "expanded_form",
          "EXPL" -> "MeSH tree number"),
        Map("DOCKEY" -> "REL", "VALUE" -> "CHD", "TYPE" -> "expanded_form",
          "EXPL" -> "has child"),
        Map("DOCKEY" -> "REL", "VALUE" -> "RO", "TYPE" -> "expanded_form",
          "EXPL" -> "related to"))))
    def exportMsh(rel: Map[String, String]): String = {
      val dir = Files.createTempDirectory("graft-msh-tree").toString
      val fx = mshFixture(rel)
      OntologyWriter.write(spark, TestSpark.fixedSource(fx),
        OntologyJob("MSH", None, "MSH.ttl", loadOnCuis = false),
        UmlsExportConfig(umlsVersion = "2025AB"), s"$dir/MSH.ttl",
        graft.assemble.PropertyDocs.collectMap(fx("MRDOC")), "")
      new String(Files.readAllBytes(Paths.get(s"$dir/MSH.ttl")),
        StandardCharsets.UTF_8)
    }
    val chd = Map("CUI1" -> "CM1", "AUI1" -> "AM1", "CUI2" -> "CM2",
      "AUI2" -> "AM2", "REL" -> "CHD", "SAB" -> "MSH", "SUPPRESS" -> "N")
    val ro = chd + ("REL" -> "RO")

    // CHD edge -> non-empty D-tree: MN rule fires, tree parent emitted.
    val withTree = exportMsh(chd)
    assert(withTree.contains("rdfs:subClassOf owl:Thing"))
    assert(withTree.contains(
      "rdfs:subClassOf <http://purl.bioontology.org/ontology/MSH/D000001>"))

    // RO edge only -> the D-tree query returns zero edges: the export
    // behaves tree-less exactly like the reference — no MN owl:Thing, no
    // tree subclass; the MN literal itself still renders.
    val noTree = exportMsh(ro)
    assert(!noTree.contains("owl:Thing"))
    assert(!noTree.contains("rdfs:subClassOf"))
    assert(noTree.contains("MN> \"\"\"D1\"\"\""))
  }

  test("balanced turtle blocks: terms and STY classes are all present") {
    def countOf(needle: String): Int =
      ttl.sliding(needle.length).count(_ == needle)
    // CODE1 + CODE2 terms plus the two appended STY classes.
    assert(countOf("a owl:Class ;") == 4)
    assert(countOf(" .\n\n") >= 2) // each concept term closes the block
  }

  /** The SQL execution ids of the jobs `body` launches. Jobs are
    * filtered by a dedicated job group so concurrently-running suites
    * can't pollute the count; AQE may split an execution into several
    * jobs, which share an execution id. */
  private def sqlExecutions(body: => Unit): java.util.Set[String] = {
    val group = "graft-export-pin"
    val execIds = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = js.properties
        if (props != null &&
            group == props.getProperty("spark.jobGroup.id")) {
          val id = props.getProperty("spark.sql.execution.id")
          execIds.add(if (id == null) s"no-exec-${js.jobId}" else id)
          ()
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "export single-pass pin")
      body
      // listener events are posted asynchronously; give them a beat
      Thread.sleep(1500)
      execIds
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  private val pinJob = OntologyJob("TEST", None, "TEST.ttl", loadOnCuis = false)

  /** Run `body` with session confs set, restoring the previous values. */
  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The writer's own rendered rows for `tables`, collected unordered,
    * with the render's counters. */
  private def renderedRows(tables: Map[String, org.apache.spark.sql.DataFrame])
      : (Seq[RenderedPart], SabCounters) = {
    val source = TestSpark.fixedSource(tables)
    val asm = graft.assemble.ConceptAssembler.group(spark, source,
      Seq("TEST" -> "eng"), loadOnCuis = false,
      graft.assemble.ReleaseLookups.forSab(source, "TEST"))
    val cfg = graft.render.RenderConfig(
      ns = "http://purl.bioontology.org/ontology/TEST/", lang = "en",
      hasTree = false, dedupe = true,
      styUrl = "http://purl.bioontology.org/ontology/STY/")
    val counters = new SabCounters(spark.sparkContext)
    try (OntologyWriter.rendered(asm, IndexedSeq(cfg), strict = false,
      IndexedSeq(counters)).collect().toSeq, counters)
    finally asm.unpersistShared()
  }

  test("single-render distributed export: the render map runs inside " +
    "the ONE write execution (metadata collects aside) — r10 pin, " +
    "updated for the sort-free tail") {
    // The r9 single-pass rewrite's claim, now CI-asserted: counters /
    // errors / properties ride accumulators on the write job — no
    // extra aggregation actions over the rendered terms. The export
    // issues exactly FOUR SQL executions: three bounded metadata
    // collects (MRSAB record, SRC cui_roots, MRRANK map) and the write,
    // which renders inside the spine's partitions and sorts them
    // locally. There is no render materialization and no range sort
    // whose sampler could re-run the render subtree; the driver's merge
    // of the parts runs no Spark job. A regression that re-renders per
    // action, or puts a cut back, would count 5+.
    val docs = graft.assemble.PropertyDocs.collectMap(fixture("MRDOC"))
    val execIds = sqlExecutions {
      val dir = Files.createTempDirectory("graft-ttl-pin").toString
      val rep = OntologyWriter.write(spark, TestSpark.fixedSource(fixture),
        pinJob, UmlsExportConfig(umlsVersion = "2025AB"),
        s"$dir/TEST.ttl", docs, "")
      assert(rep.terms === 2L)
    }
    assert(execIds.size === 4,
      s"export issued ${execIds.size} SQL executions " +
        s"(expected 4: MRSAB + cui_roots + MRRANK metadata collects " +
        s"+ the write pass): $execIds")
  }

  test("an export given the run's lookup snapshot issues exactly one SQL " +
    "execution: the write pass") {
    val source = TestSpark.fixedSource(fixture)
    val docs = graft.assemble.PropertyDocs.collectMap(fixture("MRDOC"))
    val lookups = graft.assemble.ReleaseLookups.load(source, Seq("TEST"))
    val dir = Files.createTempDirectory("graft-ttl-pin").toString
    def writeWith(semTypes: String): WriteReport =
      OntologyWriter.writeGroup(spark, source, Seq(pinJob -> s"$dir/TEST.ttl"),
        UmlsExportConfig(umlsVersion = "2025AB"), s"$dir/parts", docs,
        semTypes, lookups).head
    val execIds = sqlExecutions {
      val rep = writeWith("")
      assert(rep.terms === 2L)
    }
    assert(execIds.size === 1,
      s"export issued ${execIds.size} SQL executions (expected 1: the " +
        s"write pass): $execIds")
    // same bytes as the export that reads its own lookups
    val (_, text) = export(Files.createTempDirectory("graft-ttl").toString)
    val semTypes = SemanticTypes.generate(fixture("MRSTY"),
      "http://purl.bioontology.org/ontology/STY/", withRoots = false)
    writeWith(semTypes)
    assert(new String(Files.readAllBytes(Paths.get(s"$dir/TEST.ttl")),
      StandardCharsets.UTF_8) === text)
  }

  test("CappedErrorAccumulator: bounded kept set, exact total, across " +
    "add / merge / copy / a real distributed job") {
    val acc = new CappedErrorAccumulator(10)
    (1 to 2500).foreach(i => acc.add((s"C$i", "boom")))
    val (kept, total) = acc.value
    assert(kept.size === 10)
    assert(total === 2500L)
    // merge past the cap keeps the bound and sums the counts
    val other = new CappedErrorAccumulator(10)
    (1 to 7).foreach(i => other.add((s"D$i", "bang")))
    acc.merge(other)
    assert(acc.value._1.size === 10)
    assert(acc.value._2 === 2507L)
    val copied = acc.copy()
    assert(copied.value._1.size === 10 && copied.value._2 === 2507L)
    copied.reset()
    assert(copied.isZero && copied.value._1.isEmpty)
    // through real tasks: every row adds, driver sees bounded kept +
    // exact count after the executor-side merges
    val jobAcc = new CappedErrorAccumulator(25)
    spark.sparkContext.register(jobAcc, "test.errCap")
    spark.range(0, 5000, 1, 8).toDF("id").foreach(
      r => jobAcc.add((s"R${r.getLong(0)}", "err")))
    assert(jobAcc.value._1.size === 25)
    assert(jobAcc.value._2 === 5000L)
  }

  test("a write that fails mid-way publishes nothing and leaves no " +
    "temp file or parts behind") {
    // MRDOC documents no predicate, so the property block raises (J10)
    // after the parts are written.
    val dir = Files.createTempDirectory("graft-ttl-fail").toString
    val out = s"$dir/TEST.ttl"
    def failingWrite(): Unit = {
      val ex = intercept[IllegalStateException](
        OntologyWriter.write(spark, TestSpark.fixedSource(fixture),
          OntologyJob("TEST", None, "TEST.ttl", loadOnCuis = false),
          UmlsExportConfig(umlsVersion = "2025AB"), out, Map.empty, ""))
      assert(ex.getMessage.contains("no MRDOC documentation"))
      assert(!Files.exists(Paths.get(s"$out.tmp")))
      assert(!Files.exists(Paths.get(s"$out.parts")))
    }
    failingWrite()
    assert(!Files.exists(Paths.get(out)))
    // A complete file from an earlier run survives a failed rewrite.
    Files.write(Paths.get(out), "earlier".getBytes(StandardCharsets.UTF_8))
    failingWrite()
    assert(new String(Files.readAllBytes(Paths.get(out)),
      StandardCharsets.UTF_8) === "earlier")
    assert(new java.io.File(dir).list().toSeq === Seq("TEST.ttl"))

    // A failure inside the driver's merge: the parts commit, then turn
    // unreadable, so the merge throws with <out>.tmp half-assembled.
    val docs = graft.assemble.PropertyDocs.collectMap(fixture("MRDOC"))
    val earlier = Array.tabulate[Byte](256)(_.toByte)
    Files.write(Paths.get(out), earlier)
    PartsProbe.corrupt(dir)
    try withConf(PartsProbe.ProtocolConf -> PartsProbe.ProtocolClass) {
      intercept[Exception](
        OntologyWriter.write(spark, TestSpark.fixedSource(fixture),
          OntologyJob("TEST", None, "TEST.ttl", loadOnCuis = false),
          UmlsExportConfig(umlsVersion = "2025AB"), out, docs, ""))
    } finally PartsProbe.forget(dir)
    assert(!Files.exists(Paths.get(s"$out.tmp")))
    assert(!Files.exists(Paths.get(s"$out.parts")))
    assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(out)),
      earlier))
    assert(new java.io.File(dir).list().toSeq === Seq("TEST.ttl"))
  }

  test("mass render failure: errors past the log cap stay exactly " +
    "counted and the export still writes (distributed S6)") {
    // 1200 single-atom SY-only codes -> every one raises in prefLabel
    // (no 'P' TTY, empty MRRANK) -> 1200 error rows, 200 past the
    // ErrorLogCap of 1000; plus one good PT term.
    val bad = (1 to 1200).map(i =>
      conso(s"CUI_B$i", s"AUI_B$i", f"BAD$i%04d", s"Unlabelable $i", "SY"))
    val good = conso("CUI_G", "AUI_G", "GOOD1", "Good label", "PT")
    val massFixture = Map(
      "MRCONSO" -> TestSpark.mkTable("MRCONSO", bad :+ good),
      "MRSAB" -> fixture("MRSAB"))
    val dir = Files.createTempDirectory("graft-ttl-mass").toString
    val rep = OntologyWriter.write(spark,
      TestSpark.fixedSource(massFixture),
      OntologyJob("TEST", None, "TEST.ttl", loadOnCuis = false),
      UmlsExportConfig(umlsVersion = "2025AB"),
      s"$dir/TEST.ttl", Map.empty, "")
    assert(rep.errors === 1200L)
    assert(rep.terms === 1L)
    val text = new String(Files.readAllBytes(Paths.get(s"$dir/TEST.ttl")),
      StandardCharsets.UTF_8)
    assert(text.contains("/TEST/GOOD1> a owl:Class"))
    assert(!text.contains("BAD0001"))
  }

  test("the driver merge writes the terms of several sorted parts in " +
    "Spark's string order, past the BMP, with an empty part among them") {
    // "Ａ" (U+FF21) sorts AFTER "😀" (U+1F600) in Java's UTF-16 order
    // but BEFORE it in Spark's UTF-8 byte order. Partition 0 writes a
    // part even when it holds no row, so codes that hash to it are left
    // out: its part is the empty one.
    val nParts = 8
    val wanted = Seq("Ａ", "😀", "ｚ", "é", "Z") ++ (1 to 24).map(i => f"K$i%02d")
    val partOf = spark.createDataFrame(wanted.map(Tuple1(_))).toDF("code")
      .select(col("code"), pmod(hash(col("code")), lit(nParts)))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val codes = wanted.filter(partOf(_) != 0)
    assert(codes.contains("Ａ") && codes.contains("😀"))
    assert(codes.map(partOf).distinct.size >= 3)
    val tables = Map(
      "MRCONSO" -> TestSpark.mkTable("MRCONSO", codes.zipWithIndex.map {
        case (c, i) => conso(s"CUI_$i", s"AUI_$i", c, s"Label $c", "PT")
      }),
      "MRSAB" -> fixture("MRSAB"))

    val dir = Files.createTempDirectory("graft-ttl-merge").toString
    PartsProbe.record(dir)
    val (rep, rows) = try withConf(
        "spark.sql.shuffle.partitions" -> nParts.toString,
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        PartsProbe.ProtocolConf -> PartsProbe.ProtocolClass) {
      (OntologyWriter.write(spark, TestSpark.fixedSource(tables), pinJob,
        UmlsExportConfig(umlsVersion = "2025AB"), s"$dir/TEST.ttl",
        Map.empty, ""), PartsProbe.partRows(dir))
    } finally PartsProbe.forget(dir)
    val ttl = new String(Files.readAllBytes(Paths.get(s"$dir/TEST.ttl")),
      StandardCharsets.UTF_8)
    assert(rows.count(_ > 0) >= 3, s"part row counts: $rows")
    assert(rows.count(_ == 0) >= 1, s"part row counts: $rows")
    assert(rows.sum === codes.size.toLong)
    assert(rep.terms === codes.size.toLong && rep.errors === 0L)

    val (rendered, counters) = renderedRows(tables)
    assert(counters.errors.value === 0L)
    val sparkOrder = rendered.sortBy(_.code)(
      graft.functions.SqlFns.sparkStringOrder)
    assert(sparkOrder.map(_.code) !== rendered.sortBy(_.code).map(_.code),
      "the fixture must tell UTF-8 order from UTF-16 order")
    assert(ttl.indexOf(sparkOrder.map(_.text).mkString) > 0,
      "the term section is not the sorted concatenation")
    // every term is written exactly once, so the section IS the terms
    assert(ttl.split(" a owl:Class ;", -1).length - 1 === codes.size)
  }

  test("an export where every term fails still writes its header and " +
    "property block around one empty part") {
    val tables = Map(
      "MRCONSO" -> TestSpark.mkTable("MRCONSO", (1 to 5).map(i =>
        conso(s"CUI_F$i", s"AUI_F$i", s"FAIL$i", s"Unlabelable $i", "SY"))),
      "MRSAB" -> fixture("MRSAB"))
    val source = TestSpark.fixedSource(tables)
    val docs = graft.assemble.PropertyDocs.collectMap(fixture("MRDOC"))
    val dir = Files.createTempDirectory("graft-ttl-allfail").toString
    PartsProbe.record(dir)
    val (rep, rows) = try withConf(
        PartsProbe.ProtocolConf -> PartsProbe.ProtocolClass) {
      (OntologyWriter.write(spark, source, pinJob,
        UmlsExportConfig(umlsVersion = "2025AB"), s"$dir/TEST.ttl", docs, ""),
        PartsProbe.partRows(dir))
    } finally PartsProbe.forget(dir)
    assert(rows === Seq(0L), s"part row counts: $rows")
    assert(rep.terms === 0L && rep.errors === 5L)
    val rec = graft.assemble.Mrsab.orEmpty(
      graft.assemble.ReleaseLookups.forSab(source, "TEST").mrsab("TEST"))
    val expected = graft.render.OntologyRender.Prefixes +
      graft.render.OntologyRender.header(
        "http://purl.bioontology.org/ontology/TEST/", "TEST", rec, "2025AB") +
      graft.render.OntologyRender.propertyBlock(Nil, docs) + "\n"
    assert(new String(Files.readAllBytes(Paths.get(s"$dir/TEST.ttl")),
      StandardCharsets.UTF_8) === expected)
    assert(expected.contains("umls:hasSTY a owl:ObjectProperty ;"))
  }

  test("the write plan has no range exchange and no checkpoint scan: " +
    "render and the local sort sit on the spine's hash partitions") {
    import org.apache.spark.sql.catalyst.plans.physical.{
      HashPartitioning, RangePartitioning}
    import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec,
      SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = Files.createTempDirectory("graft-ttl-plan").toString
    val plans = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
    val helper = new AdaptiveSparkPlanHelper {}
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution,
          ns: Long): Unit = {
        val ours = helper.collect(qe.executedPlan) {
          case w: DataWritingCommandExec => w.cmd
        }.exists {
          case i: InsertIntoHadoopFsRelationCommand =>
            i.outputPath.toString.contains(dir)
          case _ => false
        }
        if (ours) { plans.add(qe.executedPlan); () }
      }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try OntologyWriter.write(spark, TestSpark.fixedSource(fixture), pinJob,
      UmlsExportConfig(umlsVersion = "2025AB"), s"$dir/TEST.ttl",
      graft.assemble.PropertyDocs.collectMap(fixture("MRDOC")), "")
    finally {
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      spark.listenerManager.unregister(listener)
    }
    val plan = plans.poll()
    assert(plan != null, "the write's executed plan was not captured")
    assert(!helper.collect(plan) { case r: RDDScanExec => r }
      .exists(_.rdd.isCheckpointed), s"a checkpoint scan:\n$plan")
    val exchanges = helper.collect(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.exists(_.outputPartitioning.isInstanceOf[HashPartitioning]),
      s"the spine's hash exchange is missing:\n$plan")
    assert(!exchanges.exists(
      _.outputPartitioning.isInstanceOf[RangePartitioning]),
      s"a range exchange sorts the output:\n$plan")
    assert(helper.collect(plan) { case s: SortExec if !s.global => s }
      .nonEmpty, s"no local sort:\n$plan")
    assert(helper.collect(plan) { case s: SortExec if s.global => s }
      .isEmpty, s"a global sort:\n$plan")
  }
}
