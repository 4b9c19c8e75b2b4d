package graft.assemble

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Dataset, Encoders}

import graft.model.{AttOut, RelOut, UmlsConceptRow}

/** One MRCONSO atom as finishing reads it — the fields of the atom struct
  * [[ConceptAssembler.assembled]] collects per code. */
final case class AtomRow(
    aui: String, cui: String, stt: String, ispref: String,
    tty: String, str: String)

/** One [[ConceptAssembler.assembled]] row, decoded. */
final case class AssembledRaw(
    code: String,
    atoms: Seq[AtomRow],
    rels: Seq[RelOut],
    defs: Seq[String],
    atts: Seq[AttOut],
    tuis: Seq[String],
    isRoot: Boolean,
    treeParents: Seq[String])

/** The typed per-class finish: a plain-Scala port of the reference's
  * `UmlsClass` finishing (`umls2rdf.py:263-332`), kept as the test oracle
  * of the columnar [[ConceptAssembler.conceptsColumnsTry]] — an
  * independent second implementation the columnar plan's values and
  * `__finish_err` texts are checked against. Pure, so the class-level
  * behavior tests can exercise it without a cluster.
  */
object TypedFinish {

  /** Canonical atom order, prefLabel selection (A7/A8/A9), distinct
    * sorted altLabels (A3/F16), sorted distinct CUIs/TUIs (A5/A6). */
  def finish(raw: AssembledRaw, rankByTty: Map[String, Int],
      loadOnCuis: Boolean): UmlsConceptRow = {
    val atomsSorted = raw.atoms.sortBy(a => (a.aui, a.cui))
    val pref = PrefLabel.select(atomsSorted, rankByTty, loadOnCuis)
    UmlsConceptRow(
      code = raw.code,
      prefLabel = pref,
      altLabels = atomsSorted.map(_.str).distinct.filter(_ != pref).sorted,
      defs = raw.defs,
      cuis = atomsSorted.map(_.cui).distinct.sorted,
      tuis = raw.tuis.sorted,
      atts = raw.atts,
      rels = raw.rels,
      isRoot = raw.isRoot,
      treeParents = raw.treeParents.sorted)
  }

  /** The typed twin of `conceptsColumns`: raises on a failing term. */
  def concepts(asm: ConceptAssembler, loadOnCuis: Boolean,
      strict: Boolean = false): Dataset[UmlsConceptRow] = {
    val rankMap = asm.rankByTty
    asm.assembled(strict).as(Encoders.product[AssembledRaw])
      .map(raw => finish(raw, rankMap, loadOnCuis))(
        Encoders.product[UmlsConceptRow])
  }

  /** Per code, the text `__finish_err` must hold: the failing finish's
    * `<exception class>: <message>`, or None when the term finishes. */
  def errors(asm: ConceptAssembler,
      loadOnCuis: Boolean): Map[String, Option[String]] = {
    val rankMap = asm.rankByTty
    asm.assembled().as(Encoders.product[AssembledRaw]).collect().map { raw =>
      raw.code -> (Try(finish(raw, rankMap, loadOnCuis)) match {
        case Success(_) => None
        case Failure(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      })
    }.toMap
  }
}

/** `UmlsClass.getPrefLabel` (`umls2rdf.py:295-332`), ported branch-for-
  * branch. "First atom" means first in the canonical (AUI-sorted) order.
  */
object PrefLabel {

  def select(atoms: Seq[AtomRow], rankByTty: Map[String, Int],
      loadOnCuis: Boolean): String =
    if (loadOnCuis) cuisCascade(atoms) else codesRank(atoms, rankByTty)

  /** Codes mode: MRRANK argmax (A7); stable on canonical order for rank
    * ties. Empty MRRANK → require exactly one atom with 'P' in TTY (A9);
    * otherwise fail like the reference ("Unable to select pref label"). */
  private def codesRank(atoms: Seq[AtomRow],
      rankByTty: Map[String, Int]): String = {
    if (rankByTty.nonEmpty) {
      // Missing TTY in MRRANK raised KeyError in the reference; surface
      // the same condition as an explicit error.
      val ranked = atoms.map { a =>
        val r = rankByTty.getOrElse(a.tty,
          throw new IllegalStateException(s"TTY ${a.tty} not in MRRANK"))
        (r, a)
      }
      ranked.maxBy(_._1)._2.str
    } else {
      val prefAtoms = atoms.filter(_.tty.contains("P"))
      if (prefAtoms.size == 1) prefAtoms.head.str
      else throw new IllegalStateException("Unable to select pref label")
    }
  }

  /** Cuis mode cascade (A8, `umls2rdf.py:296-319`). */
  private def cuisCascade(atoms: Seq[AtomRow]): String = {
    if (atoms.size == 1) return atoms.head.str
    val labels = atoms.map(_.str).distinct
    if (labels.size == 1) return labels.head
    val isPref = atoms.filter(_.ispref == "Y")
    if (isPref.isEmpty) return atoms.head.str
    if (isPref.size == 1) return isPref.head.str
    val prefPf = isPref.filter(_.stt == "PF")
    if (prefPf.isEmpty) return atoms.head.str
    if (prefPf.size == 1) return prefPf.head.str
    val ttyP = atoms.filter(a => a.tty.nonEmpty && a.tty.head == 'P')
    if (ttyP.size == 1) ttyP.head.str
    else atoms.head.str
  }
}
