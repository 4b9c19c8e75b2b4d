package graft.render

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `generate_semantic_types` golden output (`umls2rdf.py:153-189`): STY
  * class terms, STN-derived subclass edges (C11/J13), owl:Thing roots.
  */
class SemanticTypesSpec extends AnyFunSuite {

  private val U = "http://purl.bioontology.org/ontology/STY/"

  private lazy val mrsty = TestSpark.mkTable("MRSTY", Seq(
    Map("CUI" -> "C1", "TUI" -> "T001", "STN" -> "A1", "STY" -> "Entity"),
    Map("CUI" -> "C2", "TUI" -> "T002", "STN" -> "A1.1",
      "STY" -> "Physical Object"),
    // Duplicate CUI row — P1 DISTINCT must collapse it.
    Map("CUI" -> "C9", "TUI" -> "T002", "STN" -> "A1.1",
      "STY" -> "Physical Object"),
    Map("CUI" -> "C3", "TUI" -> "T003", "STN" -> "B1", "STY" -> "Event")))

  test("edges derive parents from the STN tree number") {
    val es = SemanticTypes.edges(mrsty).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(es == Set(("T002", "T001")))
  }

  test("golden TTL with roots") {
    val expected =
      s"""<${U}T001> a owl:Class ;
	skos:notation "T001"^^xsd:string ;
	skos:prefLabel "Entity"@en .

<${U}T002> a owl:Class ;
	skos:notation "T002"^^xsd:string ;
	skos:prefLabel "Physical Object"@en .

<${U}T003> a owl:Class ;
	skos:notation "T003"^^xsd:string ;
	skos:prefLabel "Event"@en .

<${U}T001> rdfs:subClassOf owl:Thing .
<${U}T002> rdfs:subClassOf <${U}T001> .
<${U}T003> rdfs:subClassOf owl:Thing ."""
    assert(SemanticTypes.generate(mrsty, U, withRoots = true) == expected)
  }

  test("rootless variant omits owl:Thing lines only") {
    val ttl = SemanticTypes.generate(mrsty, U, withRoots = false)
    assert(!ttl.contains("owl:Thing"))
    assert(ttl.contains(s"<${U}T002> rdfs:subClassOf <${U}T001> ."))
  }

  /** The plans [[SemanticTypes.collect]] replaced: the ordered node
    * collect and the J13 edge self-join. */
  private def graphOfPlans(mrsty: org.apache.spark.sql.DataFrame) =
    SemanticTypes.Graph(
      SemanticTypes.nodes(mrsty).orderBy("TUI", "STN", "STY").collect()
        .map(r => (r.getString(0), r.getString(2))).toSeq,
      SemanticTypes.edges(mrsty).collect()
        .map(r => (r.getString(0), r.getString(1)))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted.toSeq })

  test("collect equals the nodes/edges plans on both source paths: empty " +
    "and single-segment STNs, one TUI under two STNs, self-parents, a " +
    "non-BMP STN") {
    def sty(tui: String, stn: String, name: String, cui: String = "C0") =
      Map("CUI" -> cui, "TUI" -> tui, "STN" -> stn, "STY" -> name)
    val emoji = "😀" // U+1F600, one code point, two UTF-16 units
    val rows = Seq(
      sty("T010", "A", "Root A"),
      sty("T001", "A1", "Entity"),
      sty("T002", "A1.1", "Two"), sty("T003", "A1.1", "Three"),
      sty("T003", "A1.1", "Three", cui = "C9"), // duplicate node
      sty("T004", "A1.1.2", "Four"),
      // one TUI under two STNs: one parent per tree position
      sty("T007", "B1", "Seven"), sty("T007", "A1.1.2.1", "Seven"),
      // self-parent: C1's parent C holds T008 itself and T009
      sty("T008", "C1", "Eight"), sty("T008", "C", "Eight"),
      sty("T009", "C", "Nine"),
      // "" (absent) STN: its parent is "" too on the RRF path
      Map("CUI" -> "C0", "TUI" -> "T005", "STY" -> "Five"),
      Map("CUI" -> "C0", "TUI" -> "T006", "STY" -> "Six"),
      // single segment ending in a non-BMP char: drop one code point
      sty("T011", "D" + emoji, "Eleven"), sty("T012", "D", "Twelve"),
      // node order past the BMP: Spark puts U+FFFD before U+1F600
      sty("T014", "E" + emoji, "emoji"), sty("T014", "E�", "fffd"),
      Map("CUI" -> "C0", "STN" -> "A1.1.3", "STY" -> "No TUI"))
    for ((path, src) <- TestSpark.bothPaths(Map("MRSTY" -> rows))) {
      val mrsty = src.table("MRSTY")
      val g = SemanticTypes.collect(mrsty)
      assert(g === graphOfPlans(mrsty), path)
      assert(g.parents("T004") === Seq("T002", "T003"), path)
      assert(g.parents("T007") === Seq("T004"), path)
      assert(g.parents("T008").contains("T009"), path)
      assert(!g.parents("T008").contains("T008"), path)
      assert(g.parents("T011") === Seq("T012"), path)
      assert(g.nodes.filter(_._1 == "T014").map(_._2) === Seq("fffd", "emoji"))
      if (path == "rrf") {
        assert(g.parents("T005") === Seq("T006"))
        assert(g.parents("T010") === Seq("T005", "T006"))
        assert(g.parents("") === Seq("T002", "T003"))
      } else {
        assert(!g.parents.contains("T005"))
        assert(!g.parents.contains("T010"))
        assert(g.nodes.head === (null, "No TUI"))
      }
    }
  }
}
