package graft.render

import scala.collection.mutable

import graft.functions.TurtleFunctions.escape
import graft.functions.UriFunctions.urlTerm
import graft.model.{RenderedTerm, TermProperty, UmlsConceptRow}

/** Render options for one ontology — the knobs `UmlsClass.toRDF` takes as
  * arguments or reads from config (`umls2rdf.py:391,766,889`).
  *
  * CHD rels always render as `rdfs:subClassOf`: the reference main loop's
  * `hierarchy=(sab != "MSH")` (`umls2rdf.py:889`) is DEAD, because
  * `write_into` never forwards the flag to `toRDF` (`umls2rdf.py:745,766`),
  * so `toRDF` always runs with hierarchy=True and MSH CHD suppression comes
  * from the tree alone (`umls2rdf.py:437-448`; ReferenceDifferentialSpec
  * pins this byte-for-byte).
  *
  * @param ns        ontology namespace (term URIs are `ns/quote(code)`)
  * @param lang      output language tag (mapped MRSAB.LAT, `umls2rdf.py:766`)
  * @param hasTree   a MeSH code tree exists (J12); suppresses rel-driven
  *                  subclass triples and enables the MN-root rule (F14)
  * @param dedupe    `conf.DEDUPE_CLASS_TRIPLES` (A10)
  * @param styUrl    semantic-type URI base (`umls2rdf.py:94-95,41`)
  */
final case class RenderConfig(
    ns: String,
    lang: String = "en",
    hasTree: Boolean = false,
    dedupe: Boolean = true,
    styUrl: String = "http://purl.bioontology.org/ontology/STY/")

/** `UmlsClass.toRDF` (`umls2rdf.py:391-490`) as a deterministic pure
  * function `UmlsConceptRow => RenderedTerm`.
  *
  * Spark-first shape: rendering is a 1-in/1-out scalar transform, so it
  * runs as `Dataset.map` inside a single narrow stage — no custom
  * Expression needed (SURVEY.md §2.9). All ordering inside a term is
  * total (O2/O3 sort keys + pre-sorted arrays from assembly), so output
  * bytes are identical regardless of input partitioning — the contract the
  * reference's order-invariance test pins
  * (`tests/test_umls2rdf.py:209-268`).
  */
object ConceptRenderer {

  private val BogusRoots =
    Set("ICD-10-CM", "138875005", "V-HL7V3.0", "C1553931")

  def render(c: UmlsConceptRow, cfg: RenderConfig): RenderedTerm = {
    val subject = urlTerm(cfg.ns, c.code)
    val sb = new StringBuilder(512)
    // Triple-triple-quoted literals match the reference byte-for-byte
    // (`umls2rdf.py:403-406`) — prefLabel/notation always use """.
    sb.append("<").append(subject).append("> a owl:Class ;\n")
      .append("\tskos:prefLabel \"\"\"").append(escape(c.prefLabel))
      .append("\"\"\"@").append(cfg.lang).append(" ;\n")
      .append("\tskos:notation \"\"\"").append(escape(c.code))
      .append("\"\"\"^^xsd:string ;\n")

    // A10 dedup state: per-kind counters + seen-set (None = dedup off).
    // The set is PER TERM, so the constant `subject` is dropped from the
    // key (r20, guide §1.2) — membership is unchanged, the hash runs
    // over two strings instead of a 3-tuple.
    val seen: mutable.Set[(String, String)] =
      if (cfg.dedupe) mutable.Set.empty else null
    var dupLiteral = 0L; var dupObject = 0L; var dupSubclass = 0L
    // A15 property accumulation — first-seen fragment per predicate URI,
    // in emission order (`umls2rdf.py:453-455,472-474`).
    val props = mutable.LinkedHashMap.empty[String, String]

    def appendObject(p: String, o: String): Unit = {
      if (seen != null) {
        if (seen.contains((p, o))) { dupObject += 1; return }
        seen += ((p, o))
      }
      sb.append("\t<").append(p).append("> <").append(o).append("> ;\n")
    }
    def appendLiteral(p: String, v: String): Unit = {
      if (seen != null) {
        if (seen.contains((p, v))) { dupLiteral += 1; return }
        seen += ((p, v))
      }
      sb.append("\t<").append(p).append("> \"\"\"").append(escape(v))
        .append("\"\"\"^^xsd:string ;\n")
    }
    def appendSubclass(o: String): Unit = {
      if (seen != null) {
        if (seen.contains(("rdfs:subClassOf", o))) {
          dupSubclass += 1; return
        }
        seen += (("rdfs:subClassOf", o))
      }
      // C12: IRIs in <>, qnames (owl:Thing) bare (`umls2rdf.py:362-363`).
      val rendered = if (o.contains("://")) s"<$o>" else o
      sb.append("\trdfs:subClassOf ").append(rendered).append(" ;\n")
    }

    // altLabels (A3) — already sorted distinct minus prefLabel at assembly.
    if (c.altLabels.nonEmpty)
      sb.append("\tskos:altLabel ")
        .append(c.altLabels
          .map(x => "\"\"\"" + escape(x) + "\"\"\"@" + cfg.lang)
          .mkString(" , "))
        .append(" ;\n")

    // F17 root flag (`umls2rdf.py:414-415`).
    if (c.isRoot) appendSubclass("owl:Thing")

    // Definitions (A4) — sorted distinct at assembly.
    if (c.defs.nonEmpty)
      sb.append("\tskos:definition ")
        .append(c.defs.distinct.sorted
          .map(x => "\"\"\"" + escape(x) + "\"\"\"@" + cfg.lang)
          .mkString(" , "))
        .append(" ;\n")

    // J12 MeSH tree parents, sorted (`umls2rdf.py:421-426`).
    if (cfg.hasTree)
      c.treeParents.sorted.foreach(p => appendSubclass(urlTerm(cfg.ns, p)))

    // O2 rel sort: CHD first, then fragment, target, source
    // (`umls2rdf.py:365-374`); all-string tuple = code-point order.
    val sortedRels = c.rels.sortBy { r =>
      val fragment = if (r.rela != null && r.rela.nonEmpty) r.rela else r.rel
      (r.rel != "CHD", fragment, r.codeTarget, r.codeSource)
    }
    // rels are fragment-sorted and atts ATN-sorted, so equal predicate
    // fragments arrive consecutively — memoize the last percent-encoded
    // predicate URI instead of re-encoding per row (r20, guide §1.2).
    var lastFrag: String = null
    var lastFragUri: String = null
    def predUri(fragment: String): String = {
      if (fragment != lastFrag) {
        lastFrag = fragment
        lastFragUri = urlTerm(cfg.ns, fragment)
      }
      lastFragUri
    }
    sortedRels.foreach { r =>
      if (r.codeSource != c.code)
        throw new IllegalStateException(
          s"Inconsistent code in rel: ${r.codeSource} != ${c.code}")
      val fragment = if (r.rela != null && r.rela.nonEmpty) r.rela else r.rel
      if (r.rel != "PAR") { // F10
        if (r.rel == "CHD") { // F11
          if (!BogusRoots.contains(r.codeTarget)) { // F12
            if (!cfg.hasTree)
              appendSubclass(urlTerm(cfg.ns, r.codeTarget))
          }
        } else {
          val p = predUri(fragment)
          appendObject(p, urlTerm(cfg.ns, r.codeTarget))
          if (!props.contains(p)) props(p) = fragment
        }
      }
    }

    // O3 att sort (ATN, ATV); F13 AQ skip; F14 MeSH MN-root rule
    // (`umls2rdf.py:457-474`).
    c.atts.sortBy(a => (a.atn, a.atv)).foreach { a =>
      if (a.atn != "AQ") {
        if (cfg.hasTree && a.atn == "MN" && c.code.startsWith("D") &&
            !a.atv.contains("."))
          appendSubclass("owl:Thing")
        val p = predUri(a.atn)
        appendLiteral(p, a.atv)
        if (!props.contains(p)) props(p) = a.atn
      }
    }

    // CUI/TUI/STY triples (`umls2rdf.py:477-488`) — raw appends, never
    // deduped in the reference. cuis/tuis pre-sorted at assembly.
    c.cuis.foreach(t =>
      sb.append("\tumls:cui \"\"\"").append(t).append("\"\"\"^^xsd:string ;\n"))
    c.tuis.foreach(t =>
      sb.append("\tumls:tui \"\"\"").append(t).append("\"\"\"^^xsd:string ;\n"))
    c.tuis.foreach(t =>
      sb.append("\tumls:hasSTY <").append(cfg.styUrl).append(t)
        .append("> ;\n"))

    sb.append(" .\n\n")
    RenderedTerm(c.code, sb.toString, dupLiteral, dupObject, dupSubclass,
      props.iterator.map { case (u, a) => TermProperty(u, a) }.toSeq)
  }
}
