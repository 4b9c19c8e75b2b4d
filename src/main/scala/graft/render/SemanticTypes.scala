package graft.render

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `generate_semantic_types` (`umls2rdf.py:153-189`): the STY class block
  * written standalone once per run and appended to every ontology file.
  *
  * Dataflow: P1 distinct (TUI, STN, STY) projection; A12 grouping
  * `STN -> [TUI]`; C11 parent tree-number derivation; J13 self-join from
  * each node to the TUIs of its parent STN (self-edges excluded); orphans
  * get `owl:Thing` when `withRoots`.
  *
  * The node/edge relations are DataFrames (the J13 self-join is the
  * oracle-checked q26 entry). The export's render does not run them: it
  * collects one distinct projection (MRSTY-distinct is ~130 rows at full
  * UMLS, a driver-side lookup by design, like the reference) and derives
  * the same order and edges on the driver ([[collect]]).
  *
  * Determinism: the reference emits nodes in MySQL scan order; we
  * canonicalize by (TUI, STN, STY) — intra-line bytes are reference-equal.
  */
object SemanticTypes {

  /** C11 as a Column: dotted path drops the last segment, single segment
    * drops the last char (`umls2rdf.py:170-175`). */
  def stnParentCol(stn: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(stn.contains("."), regexp_replace(stn, "\\.[^.]*$", ""))
      .otherwise(stn.substr(lit(1), length(stn) - 1))

  /** P1: DISTINCT (TUI, STN, STY) (`umls2rdf.py:157-158`). */
  def nodes(mrsty: DataFrame): DataFrame =
    mrsty.select(col("TUI"), col("STN"), col("STY")).distinct()

  /** J13: subclass edges (tui, parent_tui) — every TUI whose STN is the
    * parent tree-number of this node's STN, excluding the node's own TUI
    * (`umls2rdf.py:170-182`). */
  def edges(mrsty: DataFrame): DataFrame = {
    val n = nodes(mrsty)
    val child = n.select(col("TUI").as("tui"),
      stnParentCol(col("STN")).as("parent_stn"))
    val parent = n.select(col("TUI").as("parent_tui"),
      col("STN").as("p_stn")).distinct()
    child.join(parent, col("parent_stn") === col("p_stn"))
      .filter(col("tui") =!= col("parent_tui"))
      .select("tui", "parent_tui")
      .distinct()
  }

  /** The semantic-type graph on the driver: `(TUI, STY)` per node in
    * canonical (TUI, STN, STY) order, and each TUI's sorted parent TUIs. */
  final case class Graph(
      nodes: Seq[(String, String)], parents: Map[String, Seq[String]])

  /** The graph of MRSTY in one query, [[nodes]] plus each node's C11
    * parent STN under one `distinct` (the parent is a function of STN,
    * so the rows are the nodes). The parent comes from Spark's own
    * expression, keeping its code-point `substr` and regex semantics. On
    * the driver, nodes sort as `orderBy("TUI", "STN", "STY")` does and
    * the J13 join of [[edges]] is string equality with the same NULL
    * rules: a NULL key joins nothing, a self-edge is dropped. [[render]]
    * builds both the with-roots and the rootless block from the result. */
  def collect(mrsty: DataFrame): Graph = {
    val rows = mrsty
      .select(col("TUI"), col("STN"), col("STY"), stnParentCol(col("STN")))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3)))
    val order = graft.functions.SqlFns.sparkStringOrder
    val ns = rows.sortBy(r => (r._1, r._2, r._3))(
      Ordering.Tuple3(order, order, order))
      .map(r => (r._1, r._3)).toSeq
    val tuisByStn = rows.filter(r => r._1 != null && r._2 != null)
      .groupBy(_._2).map { case (stn, v) => stn -> v.map(_._1) }
    val es = rows.iterator.filter(r => r._1 != null && r._4 != null)
      .flatMap { case (tui, _, _, parentStn) =>
        tuisByStn.getOrElse(parentStn, Array.empty[String])
          .filter(_ != tui).map(tui -> _)
      }.toSeq.distinct
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    Graph(ns, es)
  }

  /** [[collect]] then [[render]], for a caller that needs one block. */
  def generate(mrsty: DataFrame, styUrl: String, withRoots: Boolean): String =
    render(collect(mrsty), styUrl, withRoots)

  /** Render the full STY Turtle block (`umls2rdf.py:161-189`). */
  def render(g: Graph, styUrl: String, withRoots: Boolean): String = {
    val out = Seq.newBuilder[String]
    g.nodes.foreach { case (tui, sty) =>
      // DELIBERATE deviation (same rationale as OntologyRender.property):
      // the reference interpolates STY raw (`umls2rdf.py:180-184`) and
      // leaves corruption to the downstream rapper pass; real STY names
      // are letters/spaces so the goldens are byte-identical, but a
      // quote/newline in a label must not inject syntax
      // (TurtleWellformedSpec). turtleString = escape + long-quote form
      // for newline-bearing values.
      out += s"""<$styUrl$tui> a owl:Class ;
	skos:notation "$tui"^^xsd:string ;
	skos:prefLabel ${graft.functions.TurtleFunctions.turtleString(sty,
        lang = Some("en"))} .
"""
    }
    g.nodes.foreach { case (tui, _) =>
      val parents = g.parents.getOrElse(tui, Nil)
      if (parents.isEmpty) {
        if (withRoots)
          out += s"<$styUrl$tui> rdfs:subClassOf owl:Thing ."
      } else parents.foreach { p =>
        out += s"<$styUrl$tui> rdfs:subClassOf <$styUrl$p> ."
      }
    }
    out.result().mkString("\n")
  }
}
