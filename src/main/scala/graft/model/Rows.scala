package graft.model

/** Typed row shapes for the assembled-concept pipeline.
  *
  * [[UmlsConceptRow]] mirrors the reference's `UmlsClass` constructor args
  * (`umls2rdf.py:263-280`): grouped child rows become array-of-struct
  * fields, so one row = one fully-assembled concept.
  */

/** One MRREL relation after AUI→code resolution (J3, `umls2rdf.py:699-727`):
  * `codeSource`/`codeTarget` are the resolved endpoint codes. */
final case class RelOut(
    rel: String, rela: String, cui1: String, codeTarget: String,
    codeSource: String)

/** One MRSAT attribute (ATN, ATV) pair (`umls2rdf.py:457-474`). */
final case class AttOut(atn: String, atv: String)

/** A fully-assembled concept: everything `UmlsClass.toRDF`
  * (`umls2rdf.py:391-490`) needs to render one Turtle term.
  *
  * @param isRoot   F17 root detection (`umls2rdf.py:692-713`)
  * @param treeParents MeSH-tree parent codes (J12, `umls2rdf.py:421-426`)
  */
final case class UmlsConceptRow(
    code: String,
    prefLabel: String,
    altLabels: Seq[String],
    defs: Seq[String],
    cuis: Seq[String],
    tuis: Seq[String],
    atts: Seq[AttOut],
    rels: Seq[RelOut],
    isRoot: Boolean,
    treeParents: Seq[String])

/** A predicate accumulated for the ontology property block (A15,
  * `umls2rdf.py:453-474,772-775`): the first-seen attribute/relation
  * fragment per predicate URI. The MRDOC dockey/description join happens at
  * write time (J10, `umls2rdf.py:812-820`). */
final case class TermProperty(uri: String, att: String)

/** One rendered concept: the Turtle text plus the per-kind duplicate-triple
  * counters (A10, `umls2rdf.py:394-398`) and the accumulated properties. */
final case class RenderedTerm(
    code: String,
    text: String,
    dupLiteral: Long,
    dupObject: Long,
    dupSubclass: Long,
    properties: Seq[TermProperty])

/** One parsed `umls.conf` manifest line (S4, `umls2rdf.py:832-838`):
  * `SAB[;altUri],outFile,loadMode` with `#` comments skipped. */
final case class OntologyJob(
    sab: String, altUri: Option[String], outFile: String, loadOnCuis: Boolean)
