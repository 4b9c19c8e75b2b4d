package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.OntologyJob
import graft.pipeline.{PipelineConfig, UmlsPipeline}
import graft.sink.UmlsExportConfig
import graft.tools.UmlsFixtureGen

/** The RRF pipe-delimited reader (S1) and source-equivalence: the same
  * fixture exported through the RRF path and the parquet path must produce
  * byte-identical Turtle.
  */
class RrfSourceSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** Write the in-memory fixture rows as `<dir>/<NAME>.RRF` — fields
    * joined with '|' plus the trailing '|', nulls as empty fields (the RRF
    * on-disk convention). */
  private def writeRrf(dir: String): Unit =
    UmlsFixtureGen.tables.foreach { case (name, rows) =>
      Files.write(Paths.get(s"$dir/$name.RRF"), rrfText(rows))
    }

  private def rrfText(rows: Seq[org.apache.spark.sql.Row]): Array[Byte] =
    rows.map { r =>
      (0 until r.length).map { i =>
        val v = r.get(i)
        if (v == null) "" else v.toString
      }.mkString("", "|", "|\n")
    }.mkString.getBytes(StandardCharsets.UTF_8)

  private def runPipeline(source: UmlsSource, outDir: String): Unit = {
    val jobs = Seq(
      OntologyJob("FIX", None, "fix.ttl", loadOnCuis = false),
      OntologyJob("CFX", None, "cfx.ttl", loadOnCuis = true),
      OntologyJob("MSH", None, "msh.ttl", loadOnCuis = false))
    val config = PipelineConfig(outDir, s"$outDir/.state",
      UmlsExportConfig(umlsVersion = "2025AA"))
    new UmlsPipeline(spark, source, jobs, config).run()
  }

  /** Light Turtle well-formedness (the S8 `rapper -c` analog without an
    * RDF lib): balanced triple-quotes, statements end with '.', prefix
    * lines well-formed. */
  private def assertWellFormedTtl(text: String): Unit = {
    assert(text.split("\"\"\"", -1).length % 2 == 1,
      "unbalanced triple-quoted literals")
    val body = text.linesIterator.filterNot(_.startsWith("@prefix"))
      .mkString("\n")
    val stmts = body.split("\\.\\s*\n").filter(_.trim.nonEmpty)
    assert(stmts.nonEmpty)
    text.linesIterator.filter(_.startsWith("@prefix")).foreach { l =>
      assert(l.matches("@prefix\\s+[a-z]+:\\s+<[^>]+> \\."), l)
    }
  }

  test("rrf reader parses columns with empty-string absent values") {
    val dir = Files.createTempDirectory("graft-rrf").toString
    writeRrf(dir)
    val conso = UmlsSource.rrf(spark, dir).table("MRCONSO")
    assert(conso.schema.fieldNames.toSeq ===
      UmlsSource.schemaOf("MRCONSO").fieldNames.toSeq)
    val noCode = conso.filter(conso("AUI") === "A0008").collect()(0)
    assert(noCode.getAs[String]("CODE") === "") // empty field, NOT null
    assert(noCode.getAs[String]("STR") === "NoCode")
    assert(conso.count() === UmlsFixtureGen.mrconso.size)
  }

  test("RRF and parquet sources export byte-identical Turtle") {
    val rrfDir = Files.createTempDirectory("graft-rrf-src").toString
    writeRrf(rrfDir)
    val outRrf = Files.createTempDirectory("graft-out-rrf").toString
    val outPq = Files.createTempDirectory("graft-out-pq").toString

    runPipeline(UmlsSource.rrf(spark, rrfDir), outRrf)
    runPipeline(UmlsSource.parquet(spark, "fixtures/umls"), outPq)

    def read(p: String) = new String(
      Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)
    assert(read(s"$outRrf/fix.ttl") === read(s"$outPq/fix.ttl"))
    assert(read(s"$outRrf/cfx.ttl") === read(s"$outPq/cfx.ttl"))
    assert(read(s"$outRrf/umls_semantictypes.ttl") ===
      read(s"$outPq/umls_semantictypes.ttl"))
  }

  test("row order and partitioning do not change the exported bytes") {
    // Every table's rows reversed and dealt round-robin over three files,
    // so each table reads as several partitions and neighbouring rows
    // land in different files.
    val shuffled = Files.createTempDirectory("graft-rrf-shuffled").toString
    UmlsFixtureGen.tables.foreach { case (name, rows) =>
      val table = Files.createDirectory(Paths.get(s"$shuffled/$name.RRF"))
      val dealt = rows.reverse.zipWithIndex
      for (k <- 0 until 3)
        Files.write(table.resolve(s"part-$k.rrf"),
          rrfText(dealt.collect { case (r, i) if i % 3 == k => r }))
    }
    assert(UmlsSource.rrf(spark, shuffled).table("MRCONSO")
      .rdd.getNumPartitions > 1)
    val inOrder = Files.createTempDirectory("graft-rrf-in-order").toString
    writeRrf(inOrder)
    val outA = Files.createTempDirectory("graft-out-in-order").toString
    val outB = Files.createTempDirectory("graft-out-shuffled").toString
    runPipeline(UmlsSource.rrf(spark, inOrder), outA)
    runPipeline(UmlsSource.rrf(spark, shuffled), outB)
    for (f <- Seq("fix.ttl", "cfx.ttl", "msh.ttl", "umls_semantictypes.ttl"))
      assert(Files.readAllBytes(Paths.get(s"$outB/$f")).toSeq ===
        Files.readAllBytes(Paths.get(s"$outA/$f")).toSeq, f)
  }

  test("parallel per-SAB export is byte-identical to sequential") {
    // One plan exports both load modes of the manifest; exported as two
    // one-SAB manifests, the SABs run one after the other.
    val outSeq = Files.createTempDirectory("graft-out-seq").toString
    val outPar = Files.createTempDirectory("graft-out-par").toString
    val jobs = Seq(
      OntologyJob("FIX", None, "fix.ttl", loadOnCuis = false),
      OntologyJob("CFX", None, "cfx.ttl", loadOnCuis = true))
    def export(out: String, jobs: Seq[OntologyJob]): Unit = {
      new UmlsPipeline(spark, UmlsSource.parquet(spark, "fixtures/umls"),
        jobs, PipelineConfig(out, s"$out/.state",
          UmlsExportConfig(umlsVersion = "2025AA"))).run()
      ()
    }
    jobs.foreach(j => export(outSeq, Seq(j)))
    export(outPar, jobs)
    def read(p: String) = new String(
      Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)
    assert(read(s"$outPar/fix.ttl") === read(s"$outSeq/fix.ttl"))
    assert(read(s"$outPar/cfx.ttl") === read(s"$outSeq/cfx.ttl"))
  }

  test("parquet export matches the committed golden files") {
    val out = Files.createTempDirectory("graft-out-golden").toString
    runPipeline(UmlsSource.parquet(spark, "fixtures/umls"), out)
    def read(p: String) = new String(
      Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)
    def golden(name: String) = {
      val in = getClass.getResourceAsStream(s"/golden/$name")
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    }
    assert(read(s"$out/fix.ttl") === golden("fix.ttl"))
    assert(read(s"$out/cfx.ttl") === golden("cfx.ttl")) // cuis mode
    assert(read(s"$out/msh.ttl") === golden("msh.ttl")) // tree mode
    // MeSH semantics at file level: tree-driven subclass (incl. the
    // SUPPRESSED tree edge); CHD rels emit NOTHING extra under a live
    // tree — the reference's `write_into` never forwards hierarchy, so
    // `toRDF` always runs hierarchy=True and the tree alone suppresses
    // (proven byte-for-byte by ReferenceDifferentialSpec)
    val msh = read(s"$out/msh.ttl")
    assert(msh.contains("D000002> a owl:Class"))
    assert(msh.contains("rdfs:subClassOf <http://purl.bioontology.org/ontology/MSH/D000002>"))
    assert(!msh.contains("/MSH/CHD>"))
    assert(read(s"$out/umls_semantictypes.ttl") ===
      golden("umls_semantictypes.ttl"))
    Seq("fix.ttl", "cfx.ttl", "msh.ttl", "umls_semantictypes.ttl")
      .foreach(f => assertWellFormedTtl(read(s"$out/$f")))
    // The writer's intermediates are gone once the files are published.
    Seq("fix", "cfx", "msh").foreach { f =>
      assert(!Files.exists(Paths.get(s"$out/$f.ttl.parts")))
      assert(!Files.exists(Paths.get(s"$out/$f.ttl.tmp")))
    }
  }
}
