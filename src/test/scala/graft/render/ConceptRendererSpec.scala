package graft.render

import org.scalatest.funsuite.AnyFunSuite

import graft.assemble.{AssembledRaw, AtomRow, TypedFinish}
import graft.model.{AttOut, RelOut, UmlsConceptRow}

/** Ports of the reference's class-level behavior tests
  * (`tests/test_umls2rdf.py:95-319`): triple dedup on/off per kind,
  * deterministic intra-class ordering, order-invariance, prefLabel cascade,
  * bogus-parent blacklist. Fixture builders mirror `make_atom`/`make_rel`/
  * `make_att` (`tests/test_umls2rdf.py:9-66`).
  */
class ConceptRendererSpec extends AnyFunSuite {

  private val NS = "http://example.org/test"

  // make_atom (tests/test_umls2rdf.py:9-18); the grouping code rides
  // AssembledRaw.code (defaulting to the CUI in cuis mode, as the
  // reference's make_atom defaults code to the CUI).
  private def atom(cui: String, label: String, ispref: String = "",
      stt: String = "", tty: String = ""): AtomRow =
    AtomRow(cui = cui, stt = stt, ispref = ispref, aui = "",
      tty = tty, str = label)

  private def codeAtom(cui: String, aui: String, label: String,
      ispref: String = "", stt: String = "", tty: String = ""): AtomRow =
    atom(cui, label, ispref, stt, tty).copy(aui = aui)

  // make_rel (tests/test_umls2rdf.py:28-34), cuis mode: endpoints are CUIs.
  private def rel(sourceCui: String, targetCui: String, rel: String,
      rela: String = ""): RelOut =
    RelOut(rel = rel, rela = rela, cui1 = targetCui,
      codeTarget = targetCui, codeSource = sourceCui)

  private def cuisTerm(atoms: Seq[AtomRow], rels: Seq[RelOut] = Nil,
      atts: Seq[AttOut] = Nil, tuis: Seq[String] = Seq("T001"),
      isRoot: Boolean = false): UmlsConceptRow =
    TypedFinish.finish(
      AssembledRaw(atoms.head.cui, atoms, rels, Nil, atts, tuis, isRoot, Nil),
      rankByTty = Map.empty, loadOnCuis = true)

  private def render(term: UmlsConceptRow, dedupe: Boolean,
      hasTree: Boolean = false): String =
    ConceptRenderer.render(term,
      RenderConfig(NS, lang = "en", hasTree = hasTree, dedupe = dedupe)).text

  private def countOf(haystack: String, needle: String): Int =
    haystack.sliding(needle.length).count(_ == needle)

  test("dedupes duplicate literal triples in load_on_codes mode") {
    val term = TypedFinish.finish(
      AssembledRaw("CODE1",
        Seq(codeAtom("C0001", "A001", "Preferred label", tty = "PT")),
        Nil, Nil,
        Seq(AttOut("TH", "NLM (1994)"), AttOut("TH", "NLM (1994)")),
        Seq("T001"), isRoot = false, Nil),
      rankByTty = Map.empty, loadOnCuis = false)
    val expected = "<http://example.org/test/TH> \"\"\"NLM (1994)\"\"\"^^xsd:string ;"
    assert(countOf(render(term, dedupe = false), expected) == 2)
    assert(countOf(render(term, dedupe = true), expected) == 1)
    val rendered = ConceptRenderer.render(term, RenderConfig(NS))
    assert(rendered.dupLiteral == 1 && rendered.dupObject == 0 &&
      rendered.dupSubclass == 0)
  }

  test("dedupes duplicate subclass triples in load_on_cuis mode") {
    val term = cuisTerm(Seq(atom("C0001", "Preferred label")),
      rels = Seq(rel("C0001", "CParent", "CHD"), rel("C0001", "CParent", "CHD")))
    val expected = "rdfs:subClassOf <http://example.org/test/CParent> ;"
    assert(countOf(render(term, dedupe = false), expected) == 2)
    assert(countOf(render(term, dedupe = true), expected) == 1)
  }

  test("dedupes duplicate object triples in load_on_cuis mode") {
    val term = cuisTerm(Seq(atom("C0001", "Preferred label")),
      rels = Seq(rel("C0001", "CTarget", "RO", "relatedTo"),
        rel("C0001", "CTarget", "RO", "relatedTo")))
    val expected =
      "<http://example.org/test/relatedTo> <http://example.org/test/CTarget> ;"
    assert(countOf(render(term, dedupe = false), expected) == 2)
    assert(countOf(render(term, dedupe = true), expected) == 1)
  }

  test("sorts entries within a generated class") {
    val term = cuisTerm(
      Seq(atom("C0001", "Preferred label"),
        atom("C0001", "Alpha synonym"),
        atom("C0001", "Zulu label")),
      rels = Seq(rel("C0001", "CPARENT", "CHD")),
      atts = Seq(AttOut("IS_DRUG_CLASS", "Y"), AttOut("ATC_LEVEL", "5")),
      tuis = Seq("T121", "T109"))
    val rdf = render(term, dedupe = true)

    def idx(s: String): Int = { val i = rdf.indexOf(s); assert(i >= 0, s); i }
    assert(idx("\"\"\"Alpha synonym\"\"\"@en") < idx("\"\"\"Zulu label\"\"\"@en"))
    assert(idx("rdfs:subClassOf <http://example.org/test/CPARENT> ;") <
      idx("<http://example.org/test/ATC_LEVEL> \"\"\"5\"\"\"^^xsd:string ;"))
    assert(idx("<http://example.org/test/ATC_LEVEL> \"\"\"5\"\"\"^^xsd:string ;") <
      idx("<http://example.org/test/IS_DRUG_CLASS> \"\"\"Y\"\"\"^^xsd:string ;"))
    assert(idx("<http://example.org/test/IS_DRUG_CLASS> \"\"\"Y\"\"\"^^xsd:string ;") <
      idx("umls:cui \"\"\"C0001\"\"\"^^xsd:string ;"))
    assert(idx("umls:tui \"\"\"T109\"\"\"^^xsd:string ;") <
      idx("umls:tui \"\"\"T121\"\"\"^^xsd:string ;"))
    assert(idx("umls:hasSTY <http://purl.bioontology.org/ontology/STY/T109> ;") <
      idx("umls:hasSTY <http://purl.bioontology.org/ontology/STY/T121> ;"))
  }

  test("identical output for equivalent class inputs in different orders") {
    val atomsA = Seq(
      atom("C0001", "Preferred label", ispref = "Y", stt = "PF", tty = "PT"),
      atom("C0001", "Alpha synonym"),
      atom("C0001", "Zulu label"))
    val atomsB = Seq(atomsA(2), atomsA(0), atomsA(1))
    val relsA = Seq(
      rel("C0001", "CTargetB", "RO", "relatedToB"),
      rel("C0001", "CPARENT", "CHD"),
      rel("C0001", "CTargetA", "RO", "relatedToA"))
    val relsB = Seq(relsA(2), relsA(0), relsA(1))
    val attsA = Seq(AttOut("IS_DRUG_CLASS", "Y"), AttOut("ATC_LEVEL", "5"))
    val attsB = attsA.reverse
    val a = cuisTerm(atomsA, relsA, attsA, tuis = Seq("T121", "T109"))
    val b = cuisTerm(atomsB, relsB, attsB, tuis = Seq("T109", "T121"))
    assert(render(a, dedupe = true) == render(b, dedupe = true))
  }

  test("prefLabel prefers the single ISPREF=Y,STT=PF atom in cuis mode") {
    val term = cuisTerm(Seq(
      atom("C0001", "Later synonym"),
      atom("C0001", "Preferred label", ispref = "Y", stt = "PF", tty = "PT"),
      atom("C0001", "Other preferred", ispref = "Y", stt = "VC", tty = "SY")))
    assert(term.prefLabel == "Preferred label")
  }

  test("skips known bogus parents in subclass output") {
    val term = cuisTerm(Seq(atom("C0001", "Preferred label")),
      rels = Seq(
        rel("C0001", "138875005", "CHD"),
        rel("C0001", "V-HL7V3.0", "CHD"),
        rel("C0001", "C1553931", "CHD"),
        rel("C0001", "VALID_PARENT", "CHD")))
    val rdf = render(term, dedupe = true)
    assert(rdf.contains("rdfs:subClassOf <http://example.org/test/VALID_PARENT> ;"))
    assert(!rdf.contains("138875005"))
    assert(!rdf.contains("V-HL7V3.0"))
    assert(!rdf.contains("C1553931"))
  }

  test("PAR rels are skipped; CHD becomes object triple when hierarchy=false") {
    val term = cuisTerm(Seq(atom("C0001", "Preferred label")),
      rels = Seq(rel("C0001", "CParent", "PAR"), rel("C0001", "CKid", "CHD")))
    val rdf = ConceptRenderer.render(term, RenderConfig(NS)).text
    assert(!rdf.contains("CParent"))
  }

  test("MeSH tree parents render as subclass; CHD rels suppressed under a tree") {
    val raw = AssembledRaw("D001", Seq(atom("C0001", "Lbl")),
      Seq(RelOut("CHD", "", "D009", "D009", "D001")), Nil,
      Seq(AttOut("MN", "D01")), Seq("T001"), isRoot = false,
      treeParents = Seq("D002", "D000"))
    val term = TypedFinish.finish(raw, Map.empty, loadOnCuis = true)
    val rdf = render(term, dedupe = true, hasTree = true)
    val i2 = rdf.indexOf("rdfs:subClassOf <http://example.org/test/D000> ;")
    val i3 = rdf.indexOf("rdfs:subClassOf <http://example.org/test/D002> ;")
    assert(i2 >= 0 && i3 >= 0 && i2 < i3) // sorted parents
    assert(!rdf.contains("D009")) // CHD suppressed when a tree exists
    // F14: MN attribute with dotless value on a D* code => owl:Thing root.
    assert(rdf.contains("rdfs:subClassOf owl:Thing ;"))
  }

  test("escape handles backslashes then quotes, in that order") {
    val term = cuisTerm(Seq(atom("C0001", """a\b"c""")))
    val rdf = render(term, dedupe = true)
    assert(rdf.contains("\"\"\"a\\\\b\\\"c\"\"\"@en"))
  }

  test("object-property rels register accumulated term properties") {
    val term = cuisTerm(Seq(atom("C0001", "Preferred label")),
      rels = Seq(rel("C0001", "CTarget", "RO", "relatedTo")),
      atts = Seq(AttOut("ATC_LEVEL", "5")))
    val rendered = ConceptRenderer.render(term, RenderConfig(NS))
    assert(rendered.properties.map(p => (p.uri, p.att)).toSet == Set(
      ("http://example.org/test/relatedTo", "relatedTo"),
      ("http://example.org/test/ATC_LEVEL", "ATC_LEVEL")))
  }
}
