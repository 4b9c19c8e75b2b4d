package graft.assemble

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sources.UmlsSource

/** Assembles per-code concept rows from the UMLS tables for one SAB —
  * the Spark-first re-expression of `UmlsOntology.load_tables` + `terms()`
  * (`umls2rdf.py:586-743`).
  *
  * Where the reference builds in-RAM hash indexes (`*_by_*` defaultdicts,
  * `umls2rdf.py:545-557`) and loops row-at-a-time, this declares the same
  * dataflow as joins + groupBys and lets Catalyst plan it:
  *   - every child table is filtered by SAB first (parquet/JDBC pushdown —
  *     the reference's F1-F6 WHERE clauses);
  *   - AUI→code resolution (J3) is a join against the atom (AUI, code)
  *     projection;
  *   - per-class grouping (A1) is `groupBy(code)` with `collect_list` —
  *     one shuffle keyed by code; per-code fan-in is bounded (a code has
  *     bounded atoms/rels), so collected arrays are safe at full-UMLS
  *     scale and AQE handles the SNOMEDCT/LNC skew;
  *   - tiny tables (MRRANK per SAB ≈ hundreds of rows; cui_roots ≈ 1) are
  *     broadcast.
  *
  * Whole-export shape: one assembler instance per SAB, mirroring the
  * reference's per-ontology loop. At lake scale the tables are stored
  * `partitionBy("SAB")`, so each instance's scans are partition-pruned
  * reads, and [[graft.pipeline.PipelineConfig.parallelism]] runs the
  * per-SAB jobs concurrently — a cluster stays saturated without a
  * multi-SAB composite-key dataflow (which would complicate every join
  * key for a re-scan cost pruning already removes).
  *
  * Determinism (SURVEY.md §7.1.6): the reference's "first atom" /
  * stable-sort tie-breaks follow MySQL scan order, which no distributed
  * engine can reproduce; we canonicalize by sorting each class's atoms by
  * AUI (codes mode) / (CUI, AUI) and breaking rank ties on that order.
  * Intra-class output bytes are otherwise reference-equal.
  *
  * @param lookups the run's [[ReleaseLookups]] (MRRANK map, root CUIs);
  *   without one, this SAB's are read on first use.
  */
class ConceptAssembler(
    spark: SparkSession,
    source: UmlsSource,
    sab: String,
    loadOnCuis: Boolean = false,
    lang: String = "ENG",
    limit: Option[Int] = None,
    saltBuckets: Int = 1,
    lookups: Option[ReleaseLookups] = None) {

  private val langUpper = lang.toUpperCase

  private lazy val release =
    lookups.getOrElse(ReleaseLookups.forSab(source, sab))

  /** O5 row limit: the reference wires an optional LIMIT into the MRCONSO
    * and MRREL scans (`umls2rdf.py:586,600,613,623`) for sampled runs. */
  private def limited(df: DataFrame): DataFrame =
    limit.fold(df)(df.limit)

  /** F1: SAB + LAT + SUPPRESS='N' filter, pushed to the scan. MySQL's ci
    * collation made `lat = 'eng'` match 'ENG' (`umls2rdf.py:598-600`);
    * we compare case-insensitively to preserve that. */
  def atoms: DataFrame =
    limited(source.table("MRCONSO")
      .filter(col("SAB") === sab && upper(col("LAT")) === langUpper &&
        col("SUPPRESS") === "N"))
      .withColumn("code", codeExpr)
      .filter(col("code").isNotNull)

  /** The F1-filtered atoms, persisted once per assembler. Assembly derives
    * the per-code grouping, the AUI→code map (joined 2-3× in
    * [[relsGroupedWithRoots]]/[[defsByCode]]) and the TUI attachment all
    * from this one projection, so MRCONSO is scanned ONCE per SAB instead
    * of 4-5× (the round-2 q25s hotspot: the plan re-derived `atoms` in four
    * subplans whose shuffle keys differ, so ReusedExchange never fired).
    * MEMORY_AND_DISK: a SAB-pruned narrow projection is a few M rows for
    * the largest SAB at full-UMLS scale; disk spill keeps it safe
    * regardless. Call [[unpersistShared]] when the export is done. */
  private var sharedInitialized = false
  private lazy val atomsShared: DataFrame = {
    sharedInitialized = true
    // Only the 10 columns assembly reads — caching the full 19-column RRF
    // row would double the cache bytes (and the row-encode cost) for
    // columns nothing downstream touches.
    atoms.select(col("code"), col("CUI"), col("TS"), col("STT"),
        col("ISPREF"), col("AUI"), col("SCUI"), col("TTY"), col("CODE"),
        col("STR"))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Release the shared atom cache (no-op if assembly never ran). */
  def unpersistShared(): Unit =
    if (sharedInitialized) { atomsShared.unpersist(); () }

  /** `get_code` (`umls2rdf.py:142-147`): CUI in cuis mode; else CODE,
    * which must be non-empty (Python falsiness — '' raises too; the
    * reference raises AttributeError). Such atoms become NULL here and are
    * dropped by the filter in [[atoms]]; strict mode surfaces them via
    * [[invalidCodeAtoms]] (see [[assembled]]). */
  private def codeExpr =
    if (loadOnCuis) col("CUI")
    else when(length(col("CODE")) > 0, col("CODE"))

  def invalidCodeAtoms: DataFrame =
    source.table("MRCONSO")
      .filter(col("SAB") === sab && upper(col("LAT")) === langUpper &&
        col("SUPPRESS") === "N")
      .filter(col("CODE").isNull || length(col("CODE")) === 0)

  /** F2 root CUIs: the SRC `V-<sab>` atoms (`umls2rdf.py:612-614`);
    * tiny — entered into the plan as a literal set. */
  def cuiRoots: Set[String] = release.cuiRoots(sab)

  /** F3-filtered relations (`umls2rdf.py:621-623`). */
  def rels: DataFrame =
    limited(source.table("MRREL")
      .filter(col("SAB") === sab && col("SUPPRESS") === "N"))

  /** MeSH `D*` CHD tree: child code → parent codes (J2,
    * `umls2rdf.py:201-217`). Only consulted when `sab == "MSH"`. The
    * reference's tree SQL has NO SUPPRESS predicate (unlike F3), so the
    * edges are read from MRREL filtered on SAB/REL only — not from
    * [[rels]]. */
  def meshTree: DataFrame = {
    val conso = source.table("MRCONSO")
    val msh = conso.filter(col("SAB") === "MSH" &&
        col("CODE").startsWith("D"))
      .select(col("CUI").as("m_cui"), col("CODE").as("m_code"))
      .distinct()
    val chd = source.table("MRREL")
      .filter(col("SAB") === "MSH" && col("REL") === "CHD")
      .select(col("CUI1"), col("CUI2"))
    chd.join(msh.as("c1"), col("CUI1") === col("c1.m_cui"))
      .join(msh.as("c2"), col("CUI2") === col("c2.m_cui"))
      .select(col("c1.m_code").as("parent"), col("c2.m_code").as("child"))
      .distinct()
      .groupBy("child")
      .agg(collect_set("parent").as("parents"))
  }

  private def atomIdCode: DataFrame =
    if (loadOnCuis)
      atomsShared.select(col("CUI").as("atom_id"), col("code").as("atom_code"))
        .distinct()
    else
      // AUI is MRCONSO's primary key (one row per atom), so the (AUI, code)
      // projection is already row-unique — a distinct here would be a
      // full-width shuffle of every atom for nothing. (Code-ambiguity per
      // atom id is separately policed by [[auiCardinalityViolations]].)
      atomsShared.select(col("AUI").as("atom_id"), col("code").as("atom_code"))

  /** J3+J4: relations attached to their source class, with AUI→code
    * endpoint resolution in codes mode (`umls2rdf.py:685-727`), in ONE
    * pass: per-source-code grouped relation structs plus the F17 root
    * flag — `(rcode, rels, is_root)`.
    *
    * Codes mode: attach by AUI2 (inner — a rel not anchored at a class
    * atom is invisible, as in the reference), resolve target by AUI1
    * (unresolved targets dropped, `:717`), drop self-maps (`:715-718`).
    * Cuis mode: attach by CUI2; endpoints are the CUIs, no filtering.
    *
    * The root flag is detected over the SAME attached-rels relation the
    * grouped structs come from, so fusing both into one `groupBy` halves
    * the rels⋈atoms join work (round 2 computed `attached` twice — once
    * for rootFlags, once for the resolved rels — and the differing
    * downstream shuffle keys kept ReusedExchange from sharing them) and
    * drops one join from [[assembled]]. Target resolution is a LEFT join
    * + in-aggregate filter: `collect_list` skips NULL `when()` branches,
    * so unresolved/self-map rels vanish from the struct list (reference
    * drops them, `umls2rdf.py:715-718`) while still voting for `is_root`
    * exactly as the reference computes it over ALL attached rels. */
  def relsGroupedWithRoots: DataFrame = {
    val roots = cuiRoots
    val rootsCol = if (roots.isEmpty) lit(false)
      else col("CUI1").isin(roots.toSeq: _*)
    if (loadOnCuis) {
      val attached = rels
        .join(atomIdCode, col("CUI2") === col("atom_id"), "left_semi")
      attached
        .groupBy(col("CUI2").as("rcode"))
        .agg(
          collect_list(struct(
            col("REL").as("rel"), col("RELA").as("rela"),
            col("CUI1").as("cui1"),
            col("CUI1").as("codeTarget"), col("CUI2").as("codeSource")))
            .as("rels"),
          max(rootsCol).as("is_root"))
    } else {
      val attached = rels.join(
        atomIdCode.select(col("atom_id").as("src_aui"),
          col("atom_code").as("codeSource")),
        col("AUI2") === col("src_aui"))
      val icdPatch =
        if (sab == "ICD10CM")
          col("CUI1") === "C3264380" && col("REL") === "CHD"
        else lit(false)
      val resolved = attached.join(
        atomIdCode.select(col("atom_id").as("tgt_aui"),
          col("atom_code").as("codeTarget")),
        col("AUI1") === col("tgt_aui"), "left")
      resolved
        .groupBy(col("codeSource").as("rcode"))
        .agg(
          collect_list(when(
            col("codeTarget").isNotNull &&
              col("codeTarget") =!= col("codeSource"),
            struct(col("REL").as("rel"), col("RELA").as("rela"),
              col("CUI1").as("cui1"),
              col("codeTarget"), col("codeSource")))).as("rels"),
          max((rootsCol && col("REL") === "CHD") || icdPatch).as("is_root"))
    }
  }

  /** J5: definitions keyed by AUI (codes) / CUI (cuis)
    * (`umls2rdf.py:632-637,728-730`). Sorted distinct at assembly — the
    * reference renders `sorted(set(defs))` (`umls2rdf.py:417-419`). */
  def defsByCode: DataFrame = {
    val d = source.table("MRDEF").filter(col("SAB") === sab)
    if (loadOnCuis)
      d.select(col("CUI").as("dcode"), col("DEF"))
        .groupBy("dcode").agg(array_sort(collect_set("DEF")).as("defs"))
    else
      d.join(atomIdCode, col("AUI") === col("atom_id"))
        .groupBy(col("atom_code").as("dcode"))
        .agg(array_sort(collect_set("DEF")).as("defs"))
  }

  /** J6/F5: attributes keyed by CODE (codes) / CUI (cuis)
    * (`umls2rdf.py:643-648,731`). */
  def attsByCode: DataFrame = {
    val a = source.table("MRSAT")
      .filter(col("SAB") === sab && col("CODE").isNotNull)
    val key = if (loadOnCuis) col("CUI") else col("CODE")
    a.groupBy(key.as("acode"))
      .agg(collect_list(struct(col("ATN").as("atn"), col("ATV").as("atv")))
        .as("atts"))
  }

  /** J1+J7: semantic-type TUIs per class, via the class's CUIs
    * (`umls2rdf.py:663-670,477-479`). */
  def tuisByCode: DataFrame =
    atomsShared.select(col("code").as("tcode"), col("CUI")).distinct()
      .join(source.table("MRSTY").select(col("CUI"), col("TUI")), "CUI")
      .groupBy("tcode")
      .agg(collect_set("TUI").as("tuis"))

  /** MRRANK rank-by-TTY for this SAB (tiny; entered into the prefLabel
    * map as a literal). Reference: `umls2rdf.py:654-658,320-326`. */
  def rankByTty: Map[String, Int] = release.rankByTty(sab)

  /** J3 cardinality violations: atom ids (AUIs in codes mode) that resolve
    * to more than one distinct code. The reference raises
    * "more than one or none codes" (`umls2rdf.py:715-716`) when a rel
    * endpoint resolves ambiguously; here the same condition is a queryable
    * validation relation, enforced by `assembled(strict = true)`. */
  def auiCardinalityViolations: DataFrame =
    atomIdCode.groupBy("atom_id")
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

  /** Per-class finishing, the export's only finishing code: canonical
    * atom order, prefLabel selection (A7/A8/A9 branch-for-branch),
    * distinct sorted altLabels/CUIs/TUIs — as array expressions over the
    * grouped shape, so finishing stays inside whole-stage codegen (a
    * typed decode of ~30 atom structs per class through the product
    * encoder measured ~2× the whole assembly's cost at 600k atoms).
    *
    * Per-term failures do not raise: they surface as a `__finish_err`
    * string column (NULL on success; `prefLabel` NULL on failure) holding
    * the full `<exception class>: <message>` text the sink logs — the S6
    * per-term error contract (`umls2rdf.py:764-771`). Values and error
    * texts are spec-pinned against a typed test oracle
    * (`ConceptAssemblerSpec`). */
  def conceptsColumnsTry(strict: Boolean = false): DataFrame = {
    val rankMap = rankByTty
    val raw = assembled(strict)
    val schema = raw.schema
    def emptyLike(c: String) =
      array().cast(schema(schema.fieldIndex(c)).dataType)
    // Canonical (aui, cui) order: the atom struct leads with those keys
    // by construction (see [[groupCollectAtoms]]), so the sort runs on
    // the raw structs — no per-atom key rebuild, no unwrap transform.
    val sortedAtoms = array_sort(col("atoms"))
    val withSorted = raw.withColumn("atoms_sorted", sortedAtoms)
    val atomsS = col("atoms_sorted")
    val strs = transform(atomsS, a => a.getField("str"))
    val first = element_at(atomsS, 1).getField("str")
    val (prefCol, errCol) =
      if (loadOnCuis) {
        // A8 cascade (umls2rdf.py:296-319), branch-for-branch; the
        // cascade cannot fail.
        val labels = array_distinct(strs)
        val isPref = filter(atomsS, a => a.getField("ispref") === "Y")
        val prefPf = filter(isPref, a => a.getField("stt") === "PF")
        val ttyP = filter(atomsS, a => a.getField("tty").startsWith("P"))
        (when(size(atomsS) === 1, first)
          .when(size(labels) === 1, element_at(labels, 1))
          .when(size(isPref) === 0, first)
          .when(size(isPref) === 1, element_at(isPref, 1).getField("str"))
          .when(size(prefPf) === 0, first)
          .when(size(prefPf) === 1, element_at(prefPf, 1).getField("str"))
          .when(size(ttyP) === 1, element_at(ttyP, 1).getField("str"))
          .otherwise(first),
          lit(null).cast("string"))
      } else if (rankMap.nonEmpty) {
        // A7 argmax; FIRST max in canonical order (a stable maxBy's
        // tie-break) = array_position's first-occurrence pick. One rank
        // lookup per atom, no per-step struct rebuilds. A missing TTY
        // fails the term like the reference's KeyError, keyed on the
        // FIRST missing atom in canonical order.
        val rankLit = typedLit(rankMap)
        val missing = filter(atomsS,
          a => element_at(rankLit, a.getField("tty")).isNull)
        val err = when(size(missing) > 0,
          concat(lit(s"${ConceptAssembler.FinishError}TTY "),
            element_at(missing, 1).getField("tty"), lit(" not in MRRANK")))
        val ranks = transform(atomsS,
          a => element_at(rankLit, a.getField("tty")))
        val pref = element_at(atomsS,
          array_position(ranks, array_max(ranks)).cast("int"))
          .getField("str")
        (when(err.isNull, pref), err)
      } else {
        // A9: empty MRRANK requires exactly one 'P'-TTY atom.
        val prefAtoms = filter(atomsS, a => a.getField("tty").contains("P"))
        val err = when(size(prefAtoms) =!= 1,
          lit(s"${ConceptAssembler.FinishError}Unable to select pref label"))
        (when(err.isNull, element_at(prefAtoms, 1).getField("str")), err)
      }
    withSorted
      .withColumn("prefLabel", prefCol)
      .select(
        col("code"),
        col("prefLabel"),
        array_sort(array_remove(array_distinct(strs), col("prefLabel")))
          .as("altLabels"),
        coalesce(col("defs"), emptyLike("defs")).as("defs"),
        array_sort(array_distinct(
          transform(atomsS, a => a.getField("cui")))).as("cuis"),
        array_sort(coalesce(col("tuis"), emptyLike("tuis"))).as("tuis"),
        coalesce(col("atts"), emptyLike("atts")).as("atts"),
        coalesce(col("rels"), emptyLike("rels")).as("rels"),
        col("isRoot"),
        array_sort(coalesce(col("treeParents"), emptyLike("treeParents")))
          .as("treeParents"),
        errCol.as("__finish_err"))
  }

  /** A1 per-code atom collection, optionally salted for skewed SABs.
    *
    * AQE splits skewed JOIN partitions but not skewed AGGREGATES, so a
    * code holding a large share of a SAB's atoms (SURVEY §4 names the
    * SNOMEDCT/LNC shape) funnels its whole `collect_list` fan-in through
    * one reduce task. With `saltBuckets > 1` the collection runs in two
    * stages: stage one groups by `(code, hash(AUI) % saltBuckets)` so the
    * hot code's atoms build partial arrays on `saltBuckets` parallel
    * tasks; stage two concatenates those pre-built arrays — the hot
    * reducer now receives `saltBuckets` rows instead of one row per atom.
    * Value-identical to the unsalted path because finishing canonically
    * re-sorts the atom array ([[conceptsColumnsTry]]); equality is
    * spec-pinned.
    *
    * The atom struct carries only the fields finishing reads (prefLabel
    * keys ispref/stt/tty, canonical-order keys aui/cui, the label); the
    * grouping code rides the group key, not each atom. Field ORDER is
    * load-bearing: `(aui, cui)` lead, so the canonical intra-class sort
    * is a plain `array_sort` over the raw structs (struct comparison is
    * field-by-field, and AUI is MRCONSO's primary key, so the prefix is
    * already a total order). */
  private def groupCollectAtoms(a: DataFrame): DataFrame = {
    val atomStruct = struct(
      col("AUI").as("aui"), col("CUI").as("cui"),
      col("STT").as("stt"), col("ISPREF").as("ispref"),
      col("TTY").as("tty"), col("STR").as("str"))
    if (saltBuckets <= 1)
      a.groupBy(col("code")).agg(collect_list(atomStruct).as("atoms"))
    else
      a.withColumn("__graft_salt",
          pmod(xxhash64(col("AUI")), lit(saltBuckets)))
        .groupBy(col("code"), col("__graft_salt"))
        .agg(collect_list(atomStruct).as("partial"))
        .groupBy(col("code"))
        .agg(flatten(collect_list(col("partial"))).as("atoms"))
  }

  /** The grouped-and-joined shape BEFORE per-class finishing: one row per
    * code (A1) — `code`, `atoms`, `rels`, `defs`, `atts`, `tuis`,
    * `isRoot`, `treeParents`, with every child collection joined in.
    *
    * @param strict reproduce the reference's hard asserts: fail if any atom
    *   has an empty CODE (`umls2rdf.py:142-147`) or any AUI resolves to >1
    *   code (`umls2rdf.py:715-716`) instead of silently dropping.
    */
  def assembled(strict: Boolean = false): DataFrame = {
    if (strict && !loadOnCuis) {
      val badCodes = invalidCodeAtoms.count()
      if (badCodes > 0) throw new IllegalStateException(
        s"$badCodes atoms with empty CODE in SAB $sab (reference raises)")
      val badAuis = auiCardinalityViolations.count()
      if (badAuis > 0) throw new IllegalStateException(
        s"$badAuis atom ids resolve to more than one code in SAB $sab")
    }
    val relsGrouped = relsGroupedWithRoots
    val atomsGrouped = groupCollectAtoms(atomsShared)
    val tree =
      if (sab == "MSH") meshTree
      else spark.emptyDataFrame
        .withColumn("child", lit(null).cast("string"))
        .withColumn("parents", lit(null).cast("array<string>"))
        .select("child", "parents")

    val joined = atomsGrouped
      .join(relsGrouped, col("code") === col("rcode"), "left")
      .join(defsByCode, col("code") === col("dcode"), "left")
      .join(attsByCode, col("code") === col("acode"), "left")
      .join(tuisByCode, col("code") === col("tcode"), "left")
      .join(tree, col("code") === col("child"), "left")

    // Left joins leave absent child collections NULL; finishing treats
    // NULL arrays as empty.
    joined.select(
      col("code"),
      col("atoms"),
      col("rels"),
      col("defs"),
      col("atts"),
      col("tuis"),
      coalesce(col("is_root"), lit(false)).as("isRoot"),
      col("parents").as("treeParents"))
  }
}

object ConceptAssembler {

  /** The class prefix of every `__finish_err` text. Columnar finishing
    * throws nothing it could name, so its failures (the reference's
    * KeyError / pref-label raise, `umls2rdf.py:320-332`) read as an
    * `IllegalStateException`. */
  private val FinishError = "IllegalStateException: "
}

