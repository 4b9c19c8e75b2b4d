package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.assemble.ConceptAssembler
import graft.model.{AttOut, RelOut, UmlsConceptRow}
import graft.render.{ConceptRenderer, RenderConfig}
import graft.sources.UmlsSource

/** The UMLS concept-assembly/export stress plane (r17 verdict #2) — the
  * one major family that had no isolated factor-100/1000 gate: the
  * engine's namesake path (`umls2rdf.py:586-789` ≙ [[ConceptAssembler]] /
  * [[graft.render.ConceptRenderer]]) was exercised at scale only as sf0.1
  * bench legs, while SURVEY §4 names `groupBy(code)` skew on huge SABs
  * (the SNOMEDCT/LNC shape) as THE scale risk of this exact dataflow.
  *
  * The plant: a fully synthetic SAB whose every class is known by
  * construction — `3000·factor` atoms, ONE pathological code (`X0`)
  * holding exactly 1% of all atoms (and 1% of all MRSAT rows, and a
  * proportional MRREL fan-in), the rest uniform 10-atom codes; exactly
  * one `PT` atom per code under an MRRANK where PT outranks SY, so every
  * class's prefLabel is a planted literal. All five RRF tables are
  * written to parquet and read back through [[UmlsSource.parquet]] — the
  * same at-rest path the export runs.
  *
  * Gates (violations, not logs):
  *   - EXACT assembled counts: class count, per-class atom/rel/att/def/
  *     cui/tui cardinalities for the hot class and a uniform sample
  *     class, planted prefLabels, Σ(altLabels+1) = total atoms;
  *   - the salted twin (`saltBuckets = 8`, the q25t configuration,
  *     [[ConceptAssembler]] `collectByClass`) must be MULTISET-EQUAL
  *     to the unsalted assembly over canonicalized full rows (arrays
  *     order-insensitive via array_sort — collect_list order is
  *     partitioning-dependent by design; every consumer re-sorts);
  *   - rendered Turtle for the hot class + two uniform sample classes
  *     must be BYTE-IDENTICAL between the salted and unsalted paths
  *     (sha-48 recorded as a fact, so the `*_MULTIJVM` twin artifact
  *     additionally pins cross-JVM byte stability);
  *   - linearity: the factor round's assembly wall ≤ 15× the factor/10
  *     round's (10× the data) for BOTH paths — a degenerate hot-key plan
  *     (single-reducer fan-in turning quadratic-ish) fails loudly.
  *
  * The corpus is synthesized from `spark.range` (factor alone determines
  * it — no sf dependency), so the plant is exact at any factor and
  * byte-reproducible across masters; `SPARK_GRAFT_MASTER=
  * local-cluster[2,8,4096]` reruns it with real executor JVMs.
  */
object ScaleStressAssembly {

  /** Max wall ratio between the factor and factor/10 assembly rounds
    * (10× the data; the [[ScaleStressAnn.LinearityCeiling]] rationale). */
  val LinearityCeiling = 15.0

  val Sab = "STRESS"

  /** Isolated run: `runMain graft.ScaleStressAssembly [factor] [workDir]`
    * — prints the same steps/facts/violations JSON fragment the other
    * stress mains emit. */
  def main(args: Array[String]): Unit = {
    val factor = if (args.length > 0) args(0).toInt else 100
    val workDir = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft_assembly").toString
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_MASTER: the multi-JVM invariance axis (see Sessions).
    val spark = Sessions.withMaster(SparkSession.builder(), cpus)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val steps = ArrayBuffer[(String, Double)]()
    val facts = ArrayBuffer[(String, Long)]()
    val violations = ArrayBuffer[String]()
    run(spark, factor, workDir, steps, facts, violations)
    println("{" + StressJson.fragment(steps, facts, violations) + "}")
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }

  /** Write the planted five-table RRF corpus for one factor under
    * `dir` and return the planted invariants. */
  private def plantCorpus(spark: SparkSession, f: Int, dir: String)
      : (Long, Long, Long, Long) = {
    val nAtoms = 3000L * f
    val hot = nAtoms / 100            // 1% of all atoms in code X0
    val nCodes = (nAtoms - hot) / 10 + 1
    val u = nCodes - 1                // uniform codes X1..Xu
    val hotRels = hot / 10            // MRREL fan-in on the hot class

    // code index / local position arithmetic shared by MRCONSO + MRSAT
    val codeIdx = s"IF(id < $hot, 0L, 1L + (id - $hot) DIV 10)"
    val local = s"IF(id < $hot, id, (id - $hot) % 10)"
    val e = lit("")

    val atoms = spark.range(0, nAtoms, 1, 64).select(
      concat(lit("C"), expr("id DIV 5")).as("CUI"), lit("ENG").as("LAT"),
      lit("P").as("TS"), e.as("LUI"), lit("PF").as("STT"), e.as("SUI"),
      expr(s"IF($local = 0, 'Y', 'N')").as("ISPREF"),
      concat(lit("A"), col("id")).as("AUI"),
      e.as("SAUI"), e.as("SCUI"), e.as("SDUI"), lit(Sab).as("SAB"),
      expr(s"IF($local = 0, 'PT', 'SY')").as("TTY"),
      concat(lit("X"), expr(codeIdx)).as("CODE"),
      concat(lit("atom "), col("id"), lit(" code X"), expr(codeIdx))
        .as("STR"),
      lit("0").as("SRL"), lit("N").as("SUPPRESS"), e.as("CVF"))
    atoms.write.mode("overwrite").parquet(s"$dir/MRCONSO.parquet")

    // uniform rels: code Xr+1 -> X((r+1) % u)+1, CHD every 5th; hot
    // rels: hot atom h is the SOURCE anchor, target spread over the
    // uniform codes — the hot class's rel groupBy key receives hotRels
    // rows. No self-maps (target code != source code always).
    val rels = spark.range(0, u + hotRels, 1, 64)
      .withColumn("srcAtom",
        expr(s"IF(id < $u, $hot + id * 10 + 1, id - $u)"))
      .withColumn("tgtAtom", expr(
        s"IF(id < $u, $hot + ((id + 1) % $u) * 10," +
          s" $hot + ((id - $u) % $u) * 10)"))
      .select(
        concat(lit("C"), expr("tgtAtom DIV 5")).as("CUI1"),
        concat(lit("A"), col("tgtAtom")).as("AUI1"),
        lit("AUI").as("STYPE1"),
        expr(s"IF(id < $u AND id % 5 = 0, 'CHD', 'RO')").as("REL"),
        concat(lit("C"), expr("srcAtom DIV 5")).as("CUI2"),
        concat(lit("A"), col("srcAtom")).as("AUI2"),
        lit("AUI").as("STYPE2"),
        expr(s"IF(id < $u AND id % 2 = 0, 'part_of', '')").as("RELA"),
        e.as("RUI"), e.as("SRUI"), lit(Sab).as("SAB"), lit(Sab).as("SL"),
        e.as("RG"), e.as("DIR"), lit("N").as("SUPPRESS"), e.as("CVF"))
    rels.write.mode("overwrite").parquet(s"$dir/MRREL.parquet")

    // one definition per code, anchored at the code's PT atom
    val defs = spark.range(0, nCodes, 1, 16)
      .withColumn("anchor", expr(s"IF(id = 0, 0L, $hot + (id - 1) * 10)"))
      .select(
        concat(lit("C"), expr("anchor DIV 5")).as("CUI"),
        concat(lit("A"), col("anchor")).as("AUI"),
        e.as("ATUI"), e.as("SATUI"), lit(Sab).as("SAB"),
        concat(lit("definition of code X"), col("id")).as("DEF"),
        lit("N").as("SUPPRESS"), e.as("CVF"))
    defs.write.mode("overwrite").parquet(s"$dir/MRDEF.parquet")

    // one attribute per atom, keyed by CODE (F5/J6 path) — the hot code
    // holds 1% of ALL attribute rows; values cycle so the render-side
    // A10 dedup counters engage deterministically
    val atts = spark.range(0, nAtoms, 1, 64).select(
      concat(lit("C"), expr("id DIV 5")).as("CUI"), e.as("LUI"),
      e.as("SUI"), e.as("METAUI"), lit("AUI").as("STYPE"),
      concat(lit("X"), expr(codeIdx)).as("CODE"), e.as("ATUI"),
      e.as("SATUI"), lit("SIZE").as("ATN"), lit(Sab).as("SAB"),
      concat(lit("s"), expr("id % 97")).as("ATV"),
      lit("N").as("SUPPRESS"), e.as("CVF"))
    atts.write.mode("overwrite").parquet(s"$dir/MRSAT.parquet")

    // one STY row per CUI (atoms come 5 per CUI, aligned inside codes)
    val sty = spark.range(0, nAtoms / 5, 1, 16).select(
      concat(lit("C"), col("id")).as("CUI"),
      concat(lit("T"), expr("id % 50")).as("TUI"),
      e.as("STN"), e.as("STY"), e.as("ATUI"), e.as("CVF"))
    sty.write.mode("overwrite").parquet(s"$dir/MRSTY.parquet")

    val rank = spark.createDataFrame(java.util.Arrays.asList(
        Row("0400", Sab, "PT", "N"), Row("0300", Sab, "SY", "N")),
      UmlsSource.schemaOf("MRRANK"))
    rank.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/MRRANK.parquet")

    (nAtoms, hot, nCodes, hotRels)
  }

  /** Canonicalized full assembly: collect_list order is partitioning-
    * dependent by design (every consumer re-sorts), so the cross-path
    * equality diff and the render rows sort the two unsorted array
    * columns first. */
  private def canonical(asm: ConceptAssembler): DataFrame =
    asm.conceptsColumns()
      .withColumn("atts", array_sort(col("atts")))
      .withColumn("rels", array_sort(col("rels")))

  private def toConceptRow(r: Row): UmlsConceptRow =
    UmlsConceptRow(
      code = r.getString(0),
      prefLabel = r.getString(1),
      altLabels = r.getSeq[String](2),
      defs = r.getSeq[String](3),
      cuis = r.getSeq[String](4),
      tuis = r.getSeq[String](5),
      atts = r.getSeq[Row](6).map(a => AttOut(a.getString(0), a.getString(1))),
      rels = r.getSeq[Row](7).map(x => RelOut(x.getString(0), x.getString(1),
        x.getString(2), x.getString(3), x.getString(4))),
      isRoot = r.getBoolean(8),
      treeParents = r.getSeq[String](9))

  def run(spark: SparkSession, factor: Int, workDir: String,
      steps: ArrayBuffer[(String, Double)],
      facts: ArrayBuffer[(String, Long)],
      violations: ArrayBuffer[String]): Unit = {
    require(factor % 10 == 0 && factor >= 100,
      s"assembly plant needs factor % 10 == 0 and factor >= 100, got $factor")
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      steps += name -> (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scale] $name%-28s ${steps.last._2}%7.2f s")
      r
    }
    val renderCfg = RenderConfig(
      ns = "http://purl.bioontology.org/ontology/STRESS/")

    for (f <- Seq(factor / 10, factor)) {
      val dir = s"$workDir/assembly_x$f"
      val (nAtoms, hot, nCodes, hotRels) = timed(s"assembly_build_x$f") {
        plantCorpus(spark, f, dir)
      }
      val src = UmlsSource.parquet(spark, dir)

      def fail(msg: String): Unit = violations += s"assembly x$f: $msg"
      def expectEq(what: String, got: Any, want: Any): Unit =
        if (got != want) fail(s"$what = $got, planted $want")

      // ---- unsalted assembly (the q25s plan shape) --------------------
      val asmU = new ConceptAssembler(spark, src, Sab)
      val ccU = canonical(asmU).persist(StorageLevel.MEMORY_AND_DISK)
      val nU = timed(s"assembly_unsalted_x$f") { ccU.count() }
      expectEq("unsalted class count", nU, nCodes)

      timed(s"assembly_gates_x$f") {
        // planted totals: every atom surfaces in exactly one class as
        // prefLabel or altLabel (all STRs unique by construction)
        val total = ccU
          .select((size(col("altLabels")) + 1).cast("long").as("n"))
          .agg(sum("n")).head().getLong(0)
        expectEq("sum(altLabels + 1)", total, nAtoms)

        // the pathological class, field by field
        val hotRow = ccU.filter(col("code") === "X0").head()
        expectEq("hot prefLabel", hotRow.getString(1), "atom 0 code X0")
        expectEq("hot altLabels", hotRow.getSeq[String](2).size.toLong,
          hot - 1)
        expectEq("hot defs", hotRow.getSeq[String](3).size, 1)
        expectEq("hot cuis", hotRow.getSeq[String](4).size.toLong, hot / 5)
        expectEq("hot tuis", hotRow.getSeq[String](5).size, 50)
        expectEq("hot atts", hotRow.getSeq[Row](6).size.toLong, hot)
        expectEq("hot rels", hotRow.getSeq[Row](7).size.toLong, hotRels)
        expectEq("hot isRoot", hotRow.getBoolean(8), false)

        // a uniform sample class
        val x1 = ccU.filter(col("code") === "X1").head()
        expectEq("X1 prefLabel", x1.getString(1), s"atom $hot code X1")
        expectEq("X1 altLabels", x1.getSeq[String](2).size, 9)
        expectEq("X1 defs", x1.getSeq[String](3).size, 1)
        expectEq("X1 cuis", x1.getSeq[String](4).size, 2)
        expectEq("X1 tuis", x1.getSeq[String](5).size, 2)
        expectEq("X1 atts", x1.getSeq[Row](6).size, 10)
        expectEq("X1 rels", x1.getSeq[Row](7).size, 1)
      }

      // ---- salted twin against the planted skew (q25t config) ---------
      val asmS = new ConceptAssembler(spark, src, Sab, saltBuckets = 8)
      val ccS = canonical(asmS).persist(StorageLevel.MEMORY_AND_DISK)
      val nS = timed(s"assembly_salted_x$f") { ccS.count() }
      expectEq("salted class count", nS, nCodes)

      // equal counts + empty one-sided exceptAll == multiset equality
      val diff = timed(s"assembly_equality_x$f") {
        ccS.exceptAll(ccU).count()
      }
      facts += s"assembly_salted_diff_x$f" -> diff
      if (diff != 0 || nS != nU)
        fail(s"salted twin diverges from unsalted: $diff differing rows" +
          s" (counts $nS vs $nU)")

      // ---- rendered sample classes: salted ≡ unsalted, byte-for-byte --
      timed(s"assembly_render_x$f") {
        val sample = Seq("X0", "X1", s"X${nCodes - 1}")
        def rendered(cc: DataFrame): String = {
          val rows = cc.filter(col("code").isin(sample: _*))
            .collect().sortBy(_.getString(0))
          rows.map(r => ConceptRenderer.render(toConceptRow(r), renderCfg)
            .text).mkString("\n")
        }
        val rU = rendered(ccU)
        val rS = rendered(ccS)
        if (rU != rS)
          fail("rendered sample classes differ between salted and" +
            " unsalted paths")
        if (rU.isEmpty) fail("rendered sample classes are empty")
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(rU.getBytes("UTF-8"))
        // sha-48 prefix as a signed long: a cross-run / cross-JVM
        // byte-stability pin the *_MULTIJVM artifact diff can compare
        facts += s"assembly_render_sha48_x$f" ->
          sha.take(6).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
        facts += s"assembly_render_bytes_x$f" -> rU.length.toLong
      }

      facts += s"assembly_classes_x$f" -> nU
      facts += s"assembly_atoms_x$f" -> nAtoms
      facts += s"assembly_hot_atoms_x$f" -> hot

      ccU.unpersist(); ccS.unpersist()
      asmU.unpersistShared(); asmS.unpersistShared()
    }

    // ---- linearity: factor vs factor/10 wall per path -----------------
    val t = steps.toMap
    for (leg <- Seq("unsalted", "salted")) {
      val small = math.max(t(s"assembly_${leg}_x${factor / 10}"), 2.0)
      val big = t(s"assembly_${leg}_x$factor")
      facts += s"assembly_${leg}_scale_ratio_x$factor" ->
        math.round(big / small * 10)
      if (big > small * LinearityCeiling)
        violations += s"assembly_$leg x$factor took " +
          s"${StressJson.f3(big)}s vs ${StressJson.f3(small)}s at " +
          s"x${factor / 10} — ratio ${StressJson.f3(big / small)} > " +
          s"$LinearityCeiling for 10x the data (hot-key plan degenerated)"
    }
  }
}
