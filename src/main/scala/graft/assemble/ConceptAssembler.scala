package graft.assemble

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sources.UmlsSource

/** Assembles per-code concept rows from the UMLS tables for a group of
  * SABs — the Spark-first re-expression of `UmlsOntology.load_tables` +
  * `terms()` (`umls2rdf.py:586-743`).
  *
  * Where the reference builds in-RAM hash indexes (`*_by_*` defaultdicts,
  * `umls2rdf.py:545-557`) and fills each `UmlsClass` from them in one
  * loop, this declares the same record assembly as ONE keyed pass:
  *   - every child table is filtered by SAB first (parquet/JDBC pushdown —
  *     the reference's F1-F6 WHERE clauses);
  *   - AUI→code resolution (J3) is a join against the atom (AUI, code)
  *     projection, below the class spine;
  *   - every child row — atom, rel with its root vote, definition,
  *     attribute, semantic type, MeSH tree edge — is projected to its
  *     class key plus a payload struct holding one nullable field per
  *     kind, the projections are unioned, and per-class grouping (A1) is
  *     ONE `groupBy(sab_id, code)` with ONE `collect_list`: one shuffle
  *     keyed by class and no join above it. The aggregate's result splits
  *     the list by kind ([[assembled]]). Per-code fan-in is bounded (a
  *     code has bounded atoms/rels), so collected arrays are safe at
  *     full-UMLS scale; skewed codes can be salted ([[collectByClass]]);
  *   - tiny tables (MRRANK per SAB ≈ hundreds of rows; root CUIs ≈ 1)
  *     enter the plan as literals.
  *
  * Whole-export shape: one assembler per manifest — its `load_on_codes`
  * and `load_on_cuis` SABs alike — so a manifest runs one plan, as the
  * reference exports every SAB in one loop (`umls2rdf.py:828-896`). A
  * plan has a fixed cost whatever its row count (jobs, generated classes,
  * JIT): on the `release_sweep` benchmark workload (4 SABs, 8 000
  * classes) the per-SAB plans ran 99-102 jobs per warm export against 28
  * for the same volume in one SAB, and one plan per load mode still ran
  * 59-60. Every class key, group-by and AUI/CUI resolution is therefore
  * keyed by `(sab_id, code)`, where `sab_id` is the SAB's ordinal in the
  * group, so a class, a rel endpoint or a definition never resolves
  * across SABs. In a one-SAB group `sab_id` is the literal 0
  * ([[sabKey]]), which Catalyst folds out of every key, join and map
  * lookup: a single SAB plans exactly as a per-SAB assembler did. The
  * per-SAB values (LAT, MRRANK, root CUIs) enter the plan as literal
  * maps keyed by `sab_id`, and the load mode as the set of `load_on_cuis`
  * ordinals ([[byMode]]); in a one-mode group the mode is a constant of
  * the plan, so such a group plans as one of a single mode did.
  *
  * Determinism (SURVEY.md §7.1.6): the reference's "first atom" /
  * stable-sort tie-breaks follow MySQL scan order, which no distributed
  * engine can reproduce; we canonicalize by sorting each class's atoms by
  * AUI (codes mode) / (CUI, AUI) and breaking rank ties on that order.
  * Intra-class output bytes are otherwise reference-equal.
  *
  * @param sabs the group's SABs; a SAB's `sab_id` is its index here
  * @param langs each SAB's MRSAB language, in `sabs` order
  * @param onCuis whether each SAB is `load_on_cuis`, in `sabs` order
  * @param release the run's [[ReleaseLookups]] (MRRANK map, root CUIs),
  *   covering every SAB of the group
  */
class ConceptAssembler private (
    spark: SparkSession,
    source: UmlsSource,
    sabs: Seq[String],
    langs: Seq[String],
    onCuis: Seq[Boolean],
    limit: Option[Int],
    saltBuckets: Int,
    release: ReleaseLookups) {

  /** One SAB's assembler: a group of one, whose MRRANK map and root CUIs
    * are read on first use. */
  def this(
      spark: SparkSession,
      source: UmlsSource,
      sab: String,
      loadOnCuis: Boolean = false,
      lang: String = "ENG",
      limit: Option[Int] = None,
      saltBuckets: Int = 1) =
    this(spark, source, Seq(sab), Seq(lang), Seq(loadOnCuis), limit,
      saltBuckets, ReleaseLookups.forSab(source, sab))

  require(sabs.nonEmpty && sabs.distinct.size == sabs.size,
    s"a SAB group needs distinct SABs: $sabs")

  /** Whether the group holds SABs of both load modes. */
  private val mixed = onCuis.distinct.size > 1

  /** Whether the group holds a `load_on_codes` SAB. */
  private val hasCodes = onCuis.contains(false)

  /** `ifCuis` on a row of a `load_on_cuis` SAB, `ifCodes` on a row of a
    * `load_on_codes` SAB, `isCuis` telling the two apart ([[cuisSab]] or
    * [[cuisId]]). In a one-mode group the mode is a constant and this is
    * that mode's value alone — the other is never built — so such a group
    * carries no per-row mode test in its plan. */
  private def byMode(isCuis: => Column)(ifCuis: => Column,
      ifCodes: => Column): Column =
    if (mixed) when(isCuis, ifCuis).otherwise(ifCodes)
    else if (onCuis.head) ifCuis
    else ifCodes

  /** Whether a raw table row's SAB column names a `load_on_cuis` SAB. */
  private def cuisSab(sab: Column): Column =
    sab.isin(sabs.zip(onCuis).collect { case (s, true) => s }: _*)

  /** Whether a `sab_id` is that of a `load_on_cuis` SAB. */
  private def cuisId(id: Column): Column =
    id.isin(onCuis.zipWithIndex.collect { case (true, i) => i }: _*)

  /** A `sab_id` column: `c` in a multi-SAB group, the literal 0 in a
    * one-SAB group. Every key, join condition and map lookup reads the
    * ordinal through here and no frame carries it below a shuffle in a
    * one-SAB group, so Catalyst folds it out of the plan there. */
  private def sabKey(c: => Column): Column =
    if (sabs.size == 1) lit(0) else c

  /** The `sab_id` of a raw table row, from its SAB column. */
  private def sabIdOf(sab: Column): Column = sabKey(sabIds(sab))

  private def sabIds(sab: Column): Column =
    element_at(typedLit(sabs.zipWithIndex.toMap), sab)

  /** `a` and `b` are `sab_id`s of one SAB: always so in a one-SAB group,
    * whose frames carry no key. */
  private def sameSab(a: => Column, b: => Column): Column =
    if (sabs.size == 1) lit(true) else a === b

  /** `columns` led by the key `c` named `name` — in a one-SAB group,
    * `columns` alone (its key is read back as the literal 0). */
  private def keyed(name: String, c: => Column)(columns: Column*): Seq[Column] =
    if (sabs.size == 1) columns else c.as(name) +: columns

  /** A per-SAB value as a literal map keyed by `sab_id`, looked up at `id`
    * (folded to the value itself in a one-SAB group). */
  private def bySab[T: TypeTag](values: Seq[T], id: Column): Column =
    element_at(typedLit(values.indices.zip(values).toMap), id)

  /** O5 row limit: the reference wires an optional LIMIT into the MRCONSO
    * and MRREL scans (`umls2rdf.py:586,600,613,623`) for sampled runs. */
  private def limited(df: DataFrame): DataFrame =
    limit.fold(df)(df.limit)

  /** F1: SAB + LAT + SUPPRESS='N' filter, pushed to the scan. MySQL's ci
    * collation made `lat = 'eng'` match 'ENG' (`umls2rdf.py:598-600`);
    * we compare case-insensitively to preserve that. */
  def atoms: DataFrame =
    limited(source.table("MRCONSO").filter(f1))
      .withColumn("code", codeExpr)
      .filter(col("code").isNotNull)

  /** The F1 predicate of [[atoms]], shared with [[invalidCodeAtoms]]. */
  private def f1: Column =
    col("SAB").isin(sabs: _*) &&
      upper(col("LAT")) === bySab(langs.map(_.toUpperCase),
        sabIdOf(col("SAB"))) &&
      col("SUPPRESS") === "N"

  /** The F1-filtered atoms, persisted once per assembler. Assembly derives
    * the atom rows of the class spine, the AUI→code map (joined by the
    * rels' two endpoints and by the definitions, [[resolveAui]]) and the
    * semantic-type attachment all from this one projection, so MRCONSO
    * is scanned ONCE per group for them: plans that re-derive `atoms`
    * per use shuffle it under different keys, so ReusedExchange would
    * not fire. MEMORY_AND_DISK: a SAB-pruned narrow projection is a few
    * M rows for the largest SAB at full-UMLS scale; disk spill keeps it
    * safe regardless. Call [[unpersistShared]] when the export is done. */
  private lazy val atomsShared: DataFrame =
    // Only the columns assembly reads — caching the full 19-column RRF
    // row would double the cache bytes (and the row-encode cost) for
    // columns nothing downstream touches.
    persisted(atoms.select(keyed("sab_id", sabIdOf(col("SAB")))(col("code"),
      col("CUI"), col("TS"), col("STT"), col("ISPREF"), col("AUI"),
      col("SCUI"), col("TTY"), col("CODE"), col("STR")): _*))

  /** The frames this assembler persisted, released by [[unpersistShared]]. */
  private val persistedFrames = mutable.Buffer.empty[DataFrame]

  private def persisted(df: DataFrame): DataFrame = synchronized {
    persistedFrames += df
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Release the assembler's caches (no-op if assembly never ran). */
  def unpersistShared(): Unit = synchronized {
    persistedFrames.foreach(_.unpersist())
    persistedFrames.clear()
  }

  /** `get_code` (`umls2rdf.py:142-147`): CUI in cuis mode; else CODE,
    * which must be non-empty (Python falsiness — '' raises too; the
    * reference raises AttributeError). Such atoms become NULL here and are
    * dropped by the filter in [[atoms]]; strict mode surfaces them via
    * [[invalidCodeAtoms]] (see [[assembled]]). */
  private def codeExpr =
    byMode(cuisSab(col("SAB")))(col("CUI"),
      when(length(col("CODE")) > 0, col("CODE")))

  /** The F1-filtered atoms of the group's `load_on_codes` SABs whose CODE
    * is NULL or empty. */
  def invalidCodeAtoms: DataFrame =
    source.table("MRCONSO").filter(f1)
      .filter(byMode(cuisSab(col("SAB")))(lit(false),
        col("CODE").isNull || length(col("CODE")) === 0))

  /** F3-filtered relations (`umls2rdf.py:621-623`). */
  def rels: DataFrame =
    limited(source.table("MRREL")
      .filter(col("SAB").isin(sabs: _*) && col("SUPPRESS") === "N"))

  /** MeSH `D*` CHD tree: child code → parent codes, as `(child,
    * parents)` (J2, `umls2rdf.py:201-217`). Only consulted for MSH. The
    * reference's tree SQL has NO SUPPRESS predicate (unlike F3), so the
    * edges are read from MRREL filtered on SAB/REL only — not from
    * [[rels]]. */
  def meshTree: DataFrame =
    meshTreeEdges(meshCodes).groupBy(col("code").as("child"))
      .agg(collect_set("parent").as("parents"))

  /** Whether the group's MeSH D-tree has an edge, as a column of the
    * plan that reads it: the reference's tree checks are TRUTHINESS tests
    * (`if tree:`, `umls2rdf.py:411,422,437`), so an MSH export whose tree
    * query returns zero edges renders tree-less (no MN-root rule). An
    * uncorrelated EXISTS runs inside the export's own execution, so the
    * driver asks nothing between the lookups and the write. Always false
    * without MSH in the group. */
  def meshTreeExists: Column =
    if (sabs.contains("MSH")) meshTreeShared.exists() else lit(false)

  /** The tree's edges, persisted once per assembler like [[atomsShared]]:
    * the EXISTS subquery and the class spine in [[assembled]] plan the
    * tree apart (constraints inferred, and join strategies AQE picks per
    * subquery, differ), so without the cache they share no exchange and
    * the tree would be computed twice. Its D-codes are persisted too:
    * the edges join them twice, and adaptive execution reuses no exchange
    * above a cached table, so over a shared-scan source the two sides
    * would shuffle the same projection twice. */
  private lazy val meshTreeShared: DataFrame =
    persisted(meshTreeEdges(persisted(meshCodes)))

  /** MSH's distinct `(CUI, D-code)` pairs, as `(m_cui, m_code)`. */
  private def meshCodes: DataFrame =
    source.table("MRCONSO")
      .filter(col("SAB") === "MSH" && col("CODE").startsWith("D"))
      .select(col("CUI").as("m_cui"), col("CODE").as("m_code"))
      .distinct()

  /** The tree's edges as class children, `(sab_id, code, parent)`: the
    * child's D-code keyed by MSH's `sab_id`, `msh` resolving both CUIs.
    * An edge may repeat; the class spine keeps each parent once. */
  private def meshTreeEdges(msh: DataFrame): DataFrame =
    source.table("MRREL")
      .filter(col("SAB") === "MSH" && col("REL") === "CHD")
      .select(col("CUI1"), col("CUI2"))
      .join(msh.as("c1"), col("CUI1") === col("c1.m_cui"))
      .join(msh.as("c2"), col("CUI2") === col("c2.m_cui"))
      .select(keyed("sab_id", lit(sabs.indexOf("MSH")))(
        col("c2.m_code").as("code"), col("c1.m_code").as("parent")): _*)

  /** AUI → code of the `load_on_codes` SABs' atoms, keyed by `atom_sab`.
    * AUI is MRCONSO's primary key (one row per atom), so the projection is
    * already row-unique — a distinct would be a full-width shuffle of
    * every atom for nothing. (Code-ambiguity per AUI is separately
    * policed by [[auiCardinalityViolations]].) A `load_on_cuis` SAB needs
    * no such map: its class key is the CUI itself, so its rows meet their
    * class in the `(sab_id, code)` grouping of [[assembled]]. */
  private def atomIdCode: DataFrame = {
    val codesAtoms =
      if (mixed) atomsShared.filter(!cuisId(col("sab_id"))) else atomsShared
    codesAtoms.select(keyed("atom_sab", col("sab_id"))(
      col("AUI").as("atom_id"), col("code").as("atom_code")): _*)
  }

  /** `rows` — a raw table's rows, with its `SAB` column — with the code of
    * the atom of their own SAB whose AUI is `rows`' column `aui`, as
    * column `code`. A `load_on_codes` row whose AUI resolves no atom is
    * dropped, unless `outer`. A `load_on_cuis` row resolves nothing — its
    * SAB has no atom in [[atomIdCode]], its key being its CUI — and is
    * kept, with `code` NULL. */
  private def resolveAui(rows: DataFrame, aui: String, code: String,
      outer: Boolean): DataFrame = {
    val ids = atomIdCode.select(keyed("r_sab", col("atom_sab"))(
      col("atom_id").as("r_aui"), col("atom_code").as(code)): _*)
    val joined = rows.join(ids,
      sameSab(sabIds(col("SAB")), col("r_sab")) && col(aui) === col("r_aui"),
      if (outer || mixed) "left" else "inner")
    val kept =
      if (mixed && !outer)
        joined.filter(cuisSab(col("SAB")) || col("r_aui").isNotNull)
      else joined
    kept.drop("r_sab", "r_aui")
  }

  /** A1 atom rows: `(sab_id, code, atom)`. The atom struct carries only
    * the fields finishing reads (prefLabel keys ispref/stt/tty,
    * canonical-order keys aui/cui, the label). Field ORDER is
    * load-bearing: `(aui, cui)` lead, so the canonical intra-class sort
    * is a plain `array_sort` over the raw structs (struct comparison is
    * field-by-field, and AUI is MRCONSO's primary key, so the prefix is
    * already a total order). */
  private def atomRows: DataFrame =
    atomsShared.select(keyed("sab_id", col("sab_id"))(col("code"),
      struct(col("AUI").as("aui"), col("CUI").as("cui"),
        col("STT").as("stt"), col("ISPREF").as("ispref"),
        col("TTY").as("tty"), col("STR").as("str")).as("atom")): _*)

  /** J3+J4: relations attached to their source class, with AUI→code
    * endpoint resolution in codes mode (`umls2rdf.py:685-727`), each with
    * its F17 root vote — `(sab_id, code, rel, root)`. Each rel takes its
    * SAB's mode.
    *
    * Codes mode: attach by AUI2 (inner — a rel not anchored at a class
    * atom is invisible, as in the reference), resolve target by AUI1
    * (unresolved targets dropped, `:717`), drop self-maps (`:715-718`).
    * Both resolutions stay within the rel's own SAB.
    * Cuis mode: attach by CUI2; endpoints are the CUIs, no filtering. A
    * rel whose CUI2 is no class of its SAB meets no atom in
    * [[assembled]], so it is dropped there, its root vote with it.
    *
    * The root vote is taken over ALL attached rels, as the reference
    * computes it: target resolution is a LEFT join, and an unresolved or
    * self-map rel keeps its row with `rel` NULL so that it still votes. A
    * row with neither a rel nor a root vote carries nothing and is not
    * shuffled. The struct leaves out what the class key already holds —
    * `codeSource` is the code, and in cuis mode `codeTarget` is `cui1` —
    * and [[assembled]] rebuilds [[graft.model.RelOut]]'s fields. */
  private def relRows: DataFrame = {
    val cuisRel = cuisSab(col("SAB"))
    val rootsCol = array_contains(
      bySab(sabs.map(s => release.cuiRoots(s).toSeq.sorted),
        sabIdOf(col("SAB"))),
      col("CUI1"))
    val icd = sabs.indexOf("ICD10CM")
    val icdPatch =
      if (icd < 0) lit(false)
      else sameSab(sabIds(col("SAB")), lit(icd)) &&
        col("CUI1") === "C3264380" &&
        col("REL") === "CHD"
    val resolved =
      if (!hasCodes) rels
      else resolveAui(resolveAui(rels, "AUI2", "codeSource", outer = false),
        "AUI1", "codeTarget", outer = true)
    val relStruct = struct(Seq(col("REL").as("rel"), col("RELA").as("rela"),
      col("CUI1").as("cui1")) ++
      (if (hasCodes) Seq(col("codeTarget")) else Nil): _*)
    resolved.select(keyed("sab_id", sabIdOf(col("SAB")))(
        byMode(cuisRel)(col("CUI2"), col("codeSource")).as("code"),
        byMode(cuisRel)(relStruct, when(col("codeTarget").isNotNull &&
          col("codeTarget") =!= col("codeSource"), relStruct)).as("rel"),
        byMode(cuisRel)(rootsCol,
          (rootsCol && col("REL") === "CHD") || icdPatch).as("root")): _*)
      .filter(col("rel").isNotNull || col("root"))
  }

  /** J5: definitions keyed by AUI (codes) / CUI (cuis)
    * (`umls2rdf.py:632-637,728-730`), per SAB — `(sab_id, code, def)`. */
  private def defRows: DataFrame = {
    val d = source.table("MRDEF").filter(col("SAB").isin(sabs: _*))
    (if (hasCodes) resolveAui(d, "AUI", "atom_code", outer = false) else d)
      .select(keyed("sab_id", sabIdOf(col("SAB")))(
        byMode(cuisSab(col("SAB")))(col("CUI"), col("atom_code")).as("code"),
        col("DEF").as("def")): _*)
  }

  /** J6/F5: attributes keyed by CODE (codes) / CUI (cuis), per SAB
    * (`umls2rdf.py:643-648,731`) — `(sab_id, code, att)`. */
  private def attRows: DataFrame =
    source.table("MRSAT")
      .filter(col("SAB").isin(sabs: _*) && col("CODE").isNotNull)
      .select(keyed("sab_id", sabIdOf(col("SAB")))(
        byMode(cuisSab(col("SAB")))(col("CUI"), col("CODE")).as("code"),
        struct(col("ATN").as("atn"), col("ATV").as("atv")).as("att")): _*)

  /** J1+J7: semantic types via the class's atoms' CUIs
    * (`umls2rdf.py:663-670,477-479`) — `(sab_id, code, tui)`, one row per
    * atom and TUI; the class spine keeps each TUI once. */
  private def tuiRows: DataFrame =
    atomsShared
      .join(source.table("MRSTY").select(col("CUI"), col("TUI")), "CUI")
      .select(keyed("sab_id", col("sab_id"))(col("code"),
        col("TUI").as("tui")): _*)

  /** MRRANK rank-by-TTY of a one-SAB group (tiny; entered into the
    * prefLabel map as a literal). Reference: `umls2rdf.py:654-658,320-326`. */
  def rankByTty: Map[String, Int] = {
    require(sabs.size == 1, s"one MRRANK map per SAB, not per group $sabs")
    release.rankByTty(sabs.head)
  }

  /** J3 cardinality violations: AUIs of the `load_on_codes` SABs that
    * resolve to more than one distinct code within their SAB — `(sab_id,
    * atom_id, n_codes)`. The reference raises "more than one or none codes"
    * (`umls2rdf.py:715-716`) when a rel endpoint resolves ambiguously;
    * here the same condition is a queryable validation relation, enforced
    * by `assembled(strict = true)`. */
  def auiCardinalityViolations: DataFrame =
    atomIdCode.groupBy(sabKey(col("atom_sab")).as("sab_id"), col("atom_id"))
      .agg(countDistinct("atom_code").as("n_codes"))
      .filter(col("n_codes") > 1)

  /** The finished concepts, raising on the first per-term finishing
    * failure — a thin view over [[conceptsColumnsTry]] that raises with
    * its `__finish_err` text. Output columns match [[UmlsConceptRow]]
    * field-for-field. */
  def conceptsColumns(strict: Boolean = false): DataFrame =
    conceptsColumnsTry(strict)
      .withColumn("prefLabel",
        when(col("__finish_err").isNotNull,
          raise_error(col("__finish_err")).cast("string"))
          .otherwise(col("prefLabel")))
      .drop("__finish_err")

  /** [[finishedTry]] without its `sab_id` — one SAB's finished classes. */
  def conceptsColumnsTry(strict: Boolean = false): DataFrame =
    finishedTry(strict).drop("sab_id")

  /** Per-class finishing, the export's only finishing code: canonical
    * atom order, prefLabel selection (A7/A8/A9 branch-for-branch),
    * distinct sorted altLabels/CUIs/TUIs — as array expressions over the
    * grouped shape, so finishing stays inside whole-stage codegen (a
    * typed decode of ~30 atom structs per class through the product
    * encoder measured ~2× the whole assembly's cost at 600k atoms).
    * Each row leads with its class's `sab_id`.
    *
    * Per-term failures do not raise: they surface as a `__finish_err`
    * string column (NULL on success; `prefLabel` NULL on failure) holding
    * the full `<exception class>: <message>` text the sink logs — the S6
    * per-term error contract (`umls2rdf.py:764-771`). Values and error
    * texts are spec-pinned against a typed test oracle
    * (`ConceptAssemblerSpec`). */
  def finishedTry(strict: Boolean = false): DataFrame = {
    val raw = assembled(strict)
    // Canonical (aui, cui) order: the atom struct leads with those keys
    // by construction (see [[atomRows]]), so the sort runs on
    // the raw structs — no per-atom key rebuild, no unwrap transform.
    val sortedAtoms = array_sort(col("atoms"))
    val withSorted = raw.withColumn("atoms_sorted", sortedAtoms)
    val atomsS = col("atoms_sorted")
    val strs = transform(atomsS, a => a.getField("str"))
    val first = element_at(atomsS, 1).getField("str")
    // A8 cascade (umls2rdf.py:296-319), branch-for-branch; the cascade
    // cannot fail.
    def a8: Column = {
      val labels = array_distinct(strs)
      val isPref = filter(atomsS, a => a.getField("ispref") === "Y")
      val prefPf = filter(isPref, a => a.getField("stt") === "PF")
      val ttyP = filter(atomsS, a => a.getField("tty").startsWith("P"))
      when(size(atomsS) === 1, first)
        .when(size(labels) === 1, element_at(labels, 1))
        .when(size(isPref) === 0, first)
        .when(size(isPref) === 1, element_at(isPref, 1).getField("str"))
        .when(size(prefPf) === 0, first)
        .when(size(prefPf) === 1, element_at(prefPf, 1).getField("str"))
        .when(size(ttyP) === 1, element_at(ttyP, 1).getField("str"))
        .otherwise(first)
    }
    // The SAB's MRRANK map picks A7 or A9 per row (folded to one branch
    // in a one-SAB group); a load_on_cuis SAB's map is never read.
    lazy val (a7a9Pref, a7a9Err) = {
      val rankLit = bySab(sabs.zip(onCuis).map {
        case (sab, cuis) => if (cuis) Map.empty[String, Int]
          else release.rankByTty(sab)
      }, sabKey(col("sab_id")))
      // A7 argmax; FIRST max in canonical order (a stable maxBy's
      // tie-break) = array_position's first-occurrence pick. One rank
      // lookup per atom, no per-step struct rebuilds. A missing TTY
      // fails the term like the reference's KeyError, keyed on the
      // FIRST missing atom in canonical order.
      val missing = filter(atomsS,
        a => element_at(rankLit, a.getField("tty")).isNull)
      val a7Err = when(size(missing) > 0,
        concat(lit(s"${ConceptAssembler.FinishError}TTY "),
          element_at(missing, 1).getField("tty"), lit(" not in MRRANK")))
      val ranks = transform(atomsS,
        a => element_at(rankLit, a.getField("tty")))
      val a7Pref = element_at(atomsS,
        array_position(ranks, array_max(ranks)).cast("int"))
        .getField("str")
      // A9: empty MRRANK requires exactly one 'P'-TTY atom.
      val prefAtoms = filter(atomsS, a => a.getField("tty").contains("P"))
      val a9Err = when(size(prefAtoms) =!= 1,
        lit(s"${ConceptAssembler.FinishError}Unable to select pref label"))
      val a9Pref = element_at(prefAtoms, 1).getField("str")
      val ranked = size(rankLit) > 0
      (when(ranked, when(a7Err.isNull, a7Pref))
        .otherwise(when(a9Err.isNull, a9Pref)),
        when(ranked, a7Err).otherwise(a9Err))
    }
    val cuisClass = cuisId(sabKey(col("sab_id")))
    val prefCol = byMode(cuisClass)(a8, a7a9Pref)
    val errCol = byMode(cuisClass)(lit(null).cast("string"), a7a9Err)
    withSorted
      .withColumn("prefLabel", prefCol)
      .select(
        sabKey(col("sab_id")).as("sab_id"),
        col("code"),
        col("prefLabel"),
        array_sort(array_remove(array_distinct(strs), col("prefLabel")))
          .as("altLabels"),
        col("defs"),
        array_sort(array_distinct(
          transform(atomsS, a => a.getField("cui")))).as("cuis"),
        array_sort(col("tuis")).as("tuis"),
        col("atts"),
        col("rels"),
        col("isRoot"),
        array_sort(col("treeParents")).as("treeParents"),
        errCol.as("__finish_err"))
  }

  /** `rows` — `(sab_id, code)` plus one column per child kind — collected
    * per class into `children`, a list of one struct per row holding that
    * row's kind columns. One aggregate for every kind: an aggregate per
    * kind would make every partial row carry the other kinds' buffers.
    *
    * AQE splits skewed JOIN partitions but not skewed AGGREGATES, so a
    * code holding a large share of a SAB's rows (SURVEY §4 names the
    * SNOMEDCT/LNC shape) funnels its whole `collect_list` fan-in through
    * one reduce task. With `saltBuckets > 1` the collection runs in two
    * stages: stage one groups by `(code, hash(row) % saltBuckets)` so the
    * hot code's rows build partial lists on `saltBuckets` parallel tasks;
    * stage two concatenates those pre-built lists — the hot reducer now
    * receives `saltBuckets` rows instead of one row per child.
    * Value-identical to the unsalted path because every consumer of the
    * lists sorts or deduplicates them; equality is spec-pinned. */
  private def collectByClass(rows: DataFrame): DataFrame = {
    val row = struct(rows.columns.filterNot(Set("sab_id", "code"))
      .map(col).toSeq: _*)
    def key = Seq(sabKey(col("sab_id")).as("sab_id"), col("code"))
    if (saltBuckets <= 1)
      rows.groupBy(key: _*).agg(collect_list(row).as("children"))
    else
      rows.withColumn("__graft_salt", pmod(xxhash64(row), lit(saltBuckets)))
        .groupBy(key :+ col("__graft_salt"): _*)
        .agg(collect_list(row).as("partial"))
        .groupBy(key: _*)
        .agg(flatten(collect_list(col("partial"))).as("children"))
  }

  /** The first SAB of the group (in group order) whose rows of `counts`
    * — `(sab_id, n)` — hold a non-zero count. */
  private def firstViolation(counts: DataFrame): Option[(String, Long)] =
    counts.collect().map(r => (r.getInt(0), r.getLong(1)))
      .filter(_._2 > 0).sortBy(_._1).headOption
      .map { case (id, n) => (sabs(id), n) }

  /** The grouped shape BEFORE per-class finishing: one row per class
    * (A1) — `sab_id`, `code`, `atoms`, `rels`, `defs`, `atts`, `tuis`,
    * `isRoot`, `treeParents` — from ONE `(sab_id, code)` grouping of the
    * union of every child's rows ([[collectByClass]]), with no join above
    * it. The grouping's result splits the collected list by kind: defs
    * sorted distinct (the reference renders `sorted(set(defs))`,
    * `umls2rdf.py:417-419`), TUIs and tree parents distinct, `isRoot`
    * whether any rel voted root. A group with no atom is no class (a
    * rel, definition or attribute whose key names none) and is dropped.
    *
    * @param strict reproduce the reference's hard asserts: fail if any atom
    *   has an empty CODE (`umls2rdf.py:142-147`) or any AUI resolves to >1
    *   code (`umls2rdf.py:715-716`) instead of silently dropping; the
    *   failure names the first offending SAB of the group. Only the
    *   `load_on_codes` SABs are checked: a `load_on_cuis` class key is
    *   its CUI.
    */
  def assembled(strict: Boolean = false): DataFrame = {
    if (strict && hasCodes) {
      firstViolation(invalidCodeAtoms
          .groupBy(sabIdOf(col("SAB")).as("sab_id")).count())
        .foreach { case (sab, n) => throw new IllegalStateException(
          s"$n atoms with empty CODE in SAB $sab (reference raises)") }
      firstViolation(auiCardinalityViolations.groupBy("sab_id").count())
        .foreach { case (sab, n) => throw new IllegalStateException(
          s"$n atom ids resolve to more than one code in SAB $sab") }
    }
    val hasTree = sabs.contains("MSH")
    val rows = (Seq(atomRows, relRows, defRows, attRows, tuiRows) ++
      (if (hasTree) Seq(meshTreeShared) else Nil))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val children = col("children")
    def kind(name: String): Column = transform(
      filter(children, c => c.getField(name).isNotNull), c => c.getField(name))
    collectByClass(rows)
      .filter(exists(children, c => c.getField("atom").isNotNull))
      .select(
        col("sab_id"),
        col("code"),
        kind("atom").as("atoms"),
        transform(kind("rel"), r => struct(
          r.getField("rel").as("rel"), r.getField("rela").as("rela"),
          r.getField("cui1").as("cui1"),
          byMode(cuisId(sabKey(col("sab_id"))))(r.getField("cui1"),
            r.getField("codeTarget")).as("codeTarget"),
          col("code").as("codeSource"))).as("rels"),
        array_sort(array_distinct(kind("def"))).as("defs"),
        kind("att").as("atts"),
        array_distinct(kind("tui")).as("tuis"),
        exists(children, c => c.getField("root") <=> true).as("isRoot"),
        (if (hasTree) array_distinct(kind("parent"))
          else array().cast("array<string>")).as("treeParents"))
  }
}

object ConceptAssembler {

  /** One SAB of a group: its MRSAB language and its load mode. */
  final case class Member(sab: String, lang: String, loadOnCuis: Boolean)

  /** The assembler of a manifest's SABs: `members` in manifest order (a
    * SAB's position is its `sab_id`), of either load mode or both;
    * `lookups` must cover every one of them. */
  def group(spark: SparkSession, source: UmlsSource, members: Seq[Member],
      lookups: ReleaseLookups): ConceptAssembler =
    new ConceptAssembler(spark, source, members.map(_.sab),
      members.map(_.lang), members.map(_.loadOnCuis), None, 1, lookups)

  /** The class prefix of every `__finish_err` text. Columnar finishing
    * throws nothing it could name, so its failures (the reference's
    * KeyError / pref-label raise, `umls2rdf.py:320-332`) read as an
    * `IllegalStateException`. */
  private val FinishError = "IllegalStateException: "
}
