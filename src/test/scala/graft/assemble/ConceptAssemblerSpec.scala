package graft.assemble

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.{Dataset, Encoders}

import graft.TestSpark
import graft.model.{RelOut, UmlsConceptRow}
import graft.render.{ConceptRenderer, RenderConfig}

/** End-to-end assembly over an in-memory fixture source — ports of
  * `tests/test_umls2rdf.py:322-350` (rel rewrite + self-map filtering) plus
  * the distributed-determinism contract and the strict-mode asserts. The
  * columnar finish is checked against the typed oracle ([[TypedFinish]]).
  */
class ConceptAssemblerSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def conso(cui: String, aui: String, code: String, str: String,
      tty: String, sab: String = "TEST"): Map[String, String] =
    Map("CUI" -> cui, "LAT" -> "ENG", "AUI" -> aui, "SAB" -> sab,
      "TTY" -> tty, "CODE" -> code, "STR" -> str, "SUPPRESS" -> "N")

  private def mrrel(cui1: String, aui1: String, cui2: String, aui2: String,
      rel: String, rela: String = "", sab: String = "TEST",
      suppress: String = "N"): Map[String, String] =
    Map("CUI1" -> cui1, "AUI1" -> aui1, "CUI2" -> cui2, "AUI2" -> aui2,
      "REL" -> rel, "RELA" -> rela, "SAB" -> sab, "SUPPRESS" -> suppress)

  private val atoms = Seq(
    conso("CUI_SOURCE", "AUI_SOURCE", "CODE1", "Source preferred", "PT"),
    conso("CUI_TARGET", "AUI_TARGET", "CODE2", "Target preferred", "PT"),
    conso("CUI_SELF", "AUI_SELF", "CODE1", "Source synonym", "SY"))

  private val rels = Seq(
    mrrel("CUI_TARGET", "AUI_TARGET", "CUI_SOURCE", "AUI_SOURCE", "RO", "mappedTo"),
    mrrel("CUI_SELF", "AUI_SELF", "CUI_SOURCE", "AUI_SOURCE", "RO", "selfMap"))

  private val sty = Seq(
    Map("CUI" -> "CUI_SOURCE", "TUI" -> "T001"),
    Map("CUI" -> "CUI_TARGET", "TUI" -> "T002"))

  private def assembler(atomRows: Seq[Map[String, String]] = atoms,
      relRows: Seq[Map[String, String]] = rels,
      rankRows: Seq[Map[String, String]] = Nil): ConceptAssembler = {
    val src = TestSpark.fixedSource(Map(
      "MRCONSO" -> TestSpark.mkTable("MRCONSO", atomRows),
      "MRREL" -> TestSpark.mkTable("MRREL", relRows),
      "MRSTY" -> TestSpark.mkTable("MRSTY", sty),
      "MRRANK" -> TestSpark.mkTable("MRRANK", rankRows)))
    new ConceptAssembler(spark, src, "TEST")
  }

  /** The production finish, decoded. */
  private def concepts(asm: ConceptAssembler,
      strict: Boolean = false): Dataset[UmlsConceptRow] =
    asm.conceptsColumns(strict).as(Encoders.product[UmlsConceptRow])

  // Flatten with per-array sorts: collect_list element order is
  // execution-dependent on BOTH paths, and finish() deliberately leaves
  // rels/atts/defs in collection order (the renderer sorts them).
  private def flat(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    df.select(col("code"), col("prefLabel"),
        array_join(col("altLabels"), "|").as("alt"),
        array_join(array_sort(col("defs")), "|").as("defs"),
        array_join(col("cuis"), "|").as("cuis"),
        array_join(col("tuis"), "|").as("tuis"),
        array_join(array_sort(transform(col("atts"), a =>
          concat_ws("~", a.getField("atn"), a.getField("atv")))), "|")
          .as("atts"),
        array_join(array_sort(transform(col("rels"), r =>
          concat_ws("~", r.getField("rel"), r.getField("rela"),
            r.getField("cui1"), r.getField("codeTarget"),
            r.getField("codeSource")))), "|").as("rels"),
        col("isRoot"),
        array_join(col("treeParents"), "|").as("parents"))
        .orderBy("code").collect().map(_.toSeq).toSeq
  }

  test("columnar finishing equals the typed path in every fixture mode") {
    import graft.sources.UmlsSource
    val fixtureDir = "/root/repo/fixtures/umls"
    val modes = Seq(
      // codes mode with MRRANK (A7 argmax + tie-break)
      new ConceptAssembler(spark, UmlsSource.parquet(spark, fixtureDir),
        "FIX") -> false,
      // cuis mode (A8 cascade, one fixture CUI per branch)
      new ConceptAssembler(spark, UmlsSource.parquet(spark, fixtureDir),
        "CFX", loadOnCuis = true) -> true,
      // MeSH (tree parents populated)
      new ConceptAssembler(spark, UmlsSource.parquet(spark, fixtureDir),
        "MSH") -> false,
      // empty-MRRANK A9 branch (in-memory fixture has no MRRANK rows)
      assembler() -> false)
    modes.foreach { case (asm, onCuis) =>
      assert(flat(TypedFinish.concepts(asm, onCuis).toDF()) ===
        flat(asm.conceptsColumns()), asm.toString)
    }
  }

  test("terms rewrite code-mode relations and filter self-maps") {
    val terms = concepts(assembler()).collect().map(t => t.code -> t).toMap
    assert(terms.keySet == Set("CODE1", "CODE2"))
    assert(terms("CODE1").rels ==
      Seq(RelOut("RO", "mappedTo", "CUI_TARGET", "CODE2", "CODE1")))
    assert(terms("CODE2").rels.isEmpty)
    assert(terms("CODE1").prefLabel == "Source preferred")
    assert(terms("CODE1").altLabels == Seq("Source synonym"))
    assert(terms("CODE1").cuis == Seq("CUI_SELF", "CUI_SOURCE"))
    assert(terms("CODE1").tuis == Seq("T001"))
    assert(terms("CODE2").tuis == Seq("T002"))
  }

  test("identical concepts and rendered bytes under permuted, repartitioned input") {
    val a = concepts(assembler()).collect().sortBy(_.code)
    val permuted = assembler(atomRows = atoms.reverse, relRows = rels.reverse)
    val b = concepts(permuted).repartition(5).collect().sortBy(_.code)
    assert(a.toSeq == b.toSeq)
    val cfg = RenderConfig("http://example.org/test")
    val ttlA = a.map(ConceptRenderer.render(_, cfg).text).mkString
    val ttlB = b.map(ConceptRenderer.render(_, cfg).text).mkString
    assert(ttlA == ttlB)
  }

  test("empty-CODE atoms are dropped by default and fail strict mode") {
    val withBad = atoms :+ conso("CUI_BAD", "AUI_BAD", "", "No code", "PT")
    val asm = assembler(atomRows = withBad)
    val codes = concepts(asm).collect().map(_.code).toSet
    assert(codes == Set("CODE1", "CODE2")) // no phantom NULL-code concept
    val ex = intercept[IllegalStateException](concepts(asm, strict = true))
    assert(ex.getMessage.contains("empty CODE"))
  }

  test("strict mode flags an AUI resolving to two codes") {
    val withDup = atoms :+ conso("CUI_X", "AUI_SOURCE", "CODE9", "Dup aui", "PT")
    val asm = assembler(atomRows = withDup)
    val ex = intercept[IllegalStateException](concepts(asm, strict = true))
    assert(ex.getMessage.contains("more than one code"))
  }

  test("root detection: CHD rel from a SRC V-<sab> CUI marks the class root") {
    val withRoot = atoms :+
      conso("CROOT", "AUI_ROOT", "V-TEST", "Test root", "PT", sab = "SRC")
    // Target AUI is unresolvable -> the rel is dropped from the class's rels
    // (umls2rdf.py:717) but still drives is_root (computed pre-resolution).
    val rootRel = mrrel("CROOT", "AUI_NOWHERE", "CUI_SOURCE", "AUI_SOURCE", "CHD")
    val asm = assembler(atomRows = withRoot, relRows = rels :+ rootRel)
    val terms = concepts(asm).collect().map(t => t.code -> t).toMap
    assert(terms("CODE1").isRoot)
    assert(!terms("CODE2").isRoot)
    assert(terms("CODE1").rels ==
      Seq(RelOut("RO", "mappedTo", "CUI_TARGET", "CODE2", "CODE1")))
  }

  test("MeSH tree includes suppressed CHD edges (reference has no SUPPRESS filter)") {
    val mshAtoms = Seq(
      conso("C1", "A1", "D001", "Parent", "MH", sab = "MSH"),
      conso("C2", "A2", "D002", "Child", "MH", sab = "MSH"))
    val treeRel = mrrel("C1", "A1", "C2", "A2", "CHD", sab = "MSH",
      suppress = "Y")
    val src = TestSpark.fixedSource(Map(
      "MRCONSO" -> TestSpark.mkTable("MRCONSO", mshAtoms),
      "MRREL" -> TestSpark.mkTable("MRREL", Seq(treeRel))))
    val asm = new ConceptAssembler(spark, src, "MSH")
    val tree = asm.meshTree.collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    assert(tree == Map("D002" -> Set("D001")))
  }

  test("ICD10CM root patch: CHD rel from C3264380 marks the root (F17)") {
    val icdAtoms = Seq(
      conso("CUI_A", "AUI_A", "A00", "Cholera", "PT", sab = "ICD10CM"),
      conso("CUI_ROOT", "AUI_R", "ICD", "Root chapter", "PT", sab = "ICD10CM"))
    // No SRC V-ICD10CM atom exists — the hardcoded patch
    // (umls2rdf.py:710-713) is the only thing that can flag the root.
    val rel = mrrel("C3264380", "AUI_NOWHERE", "CUI_A", "AUI_A", "CHD",
      sab = "ICD10CM")
    val src = TestSpark.fixedSource(Map(
      "MRCONSO" -> TestSpark.mkTable("MRCONSO", icdAtoms),
      "MRREL" -> TestSpark.mkTable("MRREL", Seq(rel))))
    val terms = concepts(new ConceptAssembler(spark, src, "ICD10CM"))
      .collect().map(t => t.code -> t.isRoot).toMap
    assert(terms("A00") === true) // patched root
    assert(terms("ICD") === false)
  }

  test("salted atom collection is value-identical to the unsalted path " +
    "and plans the two-stage aggregate") {
    import graft.sources.UmlsSource
    val fixtureDir = "/root/repo/fixtures/umls"
    val plain = new ConceptAssembler(spark,
      UmlsSource.parquet(spark, fixtureDir), "FIX")
    val salted = new ConceptAssembler(spark,
      UmlsSource.parquet(spark, fixtureDir), "FIX", saltBuckets = 4)
    assert(flat(salted.conceptsColumns()) === flat(plain.conceptsColumns()))
    assert(flat(TypedFinish.concepts(salted, loadOnCuis = false).toDF()) ===
      flat(plain.conceptsColumns()))
    // The skew mitigation is real in the physical plan: stage one groups
    // by (code, __graft_salt), stage two concatenates partial arrays.
    val saltedPlan = salted.conceptsColumns()
      .queryExecution.executedPlan.toString
    // stage one: aggregate keyed by (code, salt)
    assert("keys=\\[code#\\d+, __graft_salt#\\d+L?\\]".r
      .findFirstIn(saltedPlan).isDefined, saltedPlan.take(800))
    // stage two: the final per-code aggregate consumes the PARTIAL arrays
    // (the flatten is a result expression, invisible in toString)
    assert(saltedPlan.contains("collect_list(partial#"), saltedPlan.take(800))
    // and the default path is untouched — no salt column anywhere
    val plainPlan = plain.conceptsColumns()
      .queryExecution.executedPlan.toString
    assert(!plainPlan.contains("__graft_salt"))
    plain.unpersistShared(); salted.unpersistShared()
  }

  test("A7/A9 finishing errors: __finish_err holds the typed oracle's " +
    "text, and the raising view raises with it") {
    def rank(tty: String) =
      Map("RANK" -> "0400", "SAB" -> "TEST", "TTY" -> tty, "SUPPRESS" -> "N")
    val cases = Seq(
      // A7: CODE1's SY and XX atoms have no MRRANK row; the text names the
      // first of them in canonical (AUI) order.
      ("TTY XX not in MRRANK", assembler(
        atomRows = Seq(
          conso("C1", "A2", "CODE1", "Ranked", "PT"),
          conso("C1", "A3", "CODE1", "Unranked", "SY"),
          conso("C1", "A1", "CODE1", "Also unranked", "XX"),
          conso("C2", "A4", "CODE2", "Fine", "PT")),
        relRows = Nil, rankRows = Seq(rank("PT")))),
      // A9, empty MRRANK: zero 'P' atoms.
      ("Unable to select pref label", assembler(
        atomRows = Seq(
          conso("C1", "A1", "CODE1", "Synonym only", "SY"),
          conso("C2", "A2", "CODE2", "Fine", "PT")),
        relRows = Nil)),
      // A9, empty MRRANK: two 'P' atoms.
      ("Unable to select pref label", assembler(
        atomRows = Seq(
          conso("C1", "A1", "CODE1", "First P", "PT"),
          conso("C1", "A2", "CODE1", "Second P", "PN"),
          conso("C2", "A3", "CODE2", "Fine", "PT")),
        relRows = Nil)))
    cases.foreach { case (message, asm) =>
      val expected = s"IllegalStateException: $message"
      val oracle = TypedFinish.errors(asm, loadOnCuis = false)
      assert(oracle === Map("CODE1" -> Some(expected), "CODE2" -> None))
      val columnar = asm.conceptsColumnsTry()
        .select("code", "__finish_err").collect()
        .map(r => r.getString(0) -> Option(r.getString(1))).toMap
      assert(columnar === oracle)
      val raised = intercept[Exception](asm.conceptsColumns().collect())
      assert(raised.getMessage.contains(expected), raised.getMessage)
    }
  }

  test("O5 row limit bounds the MRCONSO scan") {
    val limited = new ConceptAssembler(spark, TestSpark.fixedSource(Map(
      "MRCONSO" -> TestSpark.mkTable("MRCONSO", atoms),
      "MRREL" -> TestSpark.mkTable("MRREL", Nil),
      "MRSTY" -> TestSpark.mkTable("MRSTY", Nil))), "TEST",
      limit = Some(1))
    assert(limited.atoms.count() === 1L)
  }
}
