package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.assemble.{ConceptAssembler, PropertyDocs}
import graft.render.SemanticTypes
import graft.sources.UmlsSource

/** Fixture-backed oracle coverage for the UMLS-specific operators.
  *
  * The harness's TPC-H-ish tables can only exercise these ops by analogy;
  * these entries run the REAL engine paths (`ConceptAssembler`,
  * `SemanticTypes`, `PropertyDocs`, MRSAB pick) over committed UMLS-shaped
  * parquet (`fixtures/umls/`, written by [[graft.tools.UmlsFixtureGen]])
  * and hand DuckDB an equivalent SQL over the same files — so
  * CORRECTNESS_r{N} verifies the UMLS semantics themselves, not analogs.
  *
  * The oracle SQL reads the fixture parquet by absolute path (DuckDB reads
  * parquet from path literals; the driver's harness views are unaffected).
  */
object UmlsQueries {

  /** Absolute so both Spark and the driver's DuckDB resolve identically. */
  val FixtureDir = "/root/repo/fixtures/umls"

  private def fx(table: String) =
    s"'$FixtureDir/$table.parquet/*.parquet'"

  /** q25's flattening of the assembled concepts to hash-comparable
    * strings — shared by the parquet-sourced (q25) and JDBC-sourced
    * (q189) entries so both verify against the SAME oracle SQL. */
  private def flatConcepts(asm: ConceptAssembler): DataFrame =
    asm.conceptsColumns()
      .select(
        col("code"),
        col("prefLabel").as("pref_label"),
        array_join(col("altLabels"), "|").as("alt_labels"),
        array_join(col("defs"), "|").as("defs"),
        array_join(col("cuis"), "|").as("cuis"),
        array_join(col("tuis"), "|").as("tuis"),
        array_join(array_sort(transform(col("rels"), r =>
          concat_ws(":", r("rel"), r("rela"), r("codeSource"),
            r("codeTarget")))), "|").as("rels"),
        array_join(array_sort(transform(col("atts"), a =>
          concat_ws("=", a("atn"), a("atv")))), "|").as("atts"),
        col("isRoot").as("is_root"))
      .orderBy("code")

  /** In-memory Derby loaded once per JVM from the committed UMLS
    * fixture parquet (explicit VARCHAR DDL — Spark's Derby dialect maps
    * StringType to CLOB, which Derby won't compare with string
    * literals). Backs the JDBC-sourced bench entry (q189): the one
    * catalog path that times [[UmlsSource.jdbc]]'s partitioned
    * predicate reads instead of parquet scans.
    *
    * `jdbc:derby:memory:` is PER-JVM state, so under a multi-JVM master
    * (the local-cluster invariance axis, r16 verdict #1) the driver's
    * load is invisible to executors — they boot an empty engine and the
    * partitioned read fails with "MRCONSO does not exist". That is a
    * fixture artifact, not an engine property: the production S1 source
    * is a network database every executor reaches (`umls2rdf.py:64-70`
    * connects over the wire). The fixture mirrors that reachability by
    * replicating the 74 rows into every executor JVM through a BARRIER
    * stage (one task per slot ⇒ every executor runs at least one;
    * JVM-local idempotence via [[DerbyFixtureLoader]]). The load is
    * plain JDBC on collected rows — master-agnostic, and no longer
    * relies on `write.jdbc`, whose CREATE ran on the driver while its
    * INSERTs ran on executors (split-brain under any multi-JVM master).
    */
  private[catalog] object DerbyUmls {
    val url = "jdbc:derby:memory:graftbench;create=true"
    lazy val props: java.util.Properties = {
      System.setProperty("derby.system.home",
        java.nio.file.Files.createTempDirectory("graft-derby-bench")
          .toString)
      val p = new java.util.Properties()
      p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      p
    }
    @volatile private var driverLoaded = false
    @volatile private var executorsLoaded = false
    private def payload(spark: SparkSession): Seq[
        (String, Seq[String], Seq[Seq[String]])] =
      Seq("MRCONSO", "MRREL", "MRDEF", "MRSAT", "MRRANK",
          "MRSAB", "MRSTY", "MRDOC").map { t =>
        val df = spark.read.parquet(s"$FixtureDir/$t.parquet")
        val cols = df.columns.toSeq
        val rows = df.collect().toSeq
          .map(r => cols.indices.map(i =>
            if (r.isNullAt(i)) null else r.getString(i)))
        (t, cols, rows)
      }
    /** Load the fixture into THIS JVM and (under a non-local master)
      * into every executor JVM via the barrier stage.
      *
      * ASSUMPTION (r17 ADVICE #3): the executor fan-out is one-shot per
      * driver (`executorsLoaded`) and sizes the barrier to
      * `defaultParallelism` at call time, so it covers the fixed
      * single-host local-cluster axis but NOT executor churn — an
      * executor lost and replaced after the load (or added under
      * dynamic allocation) boots with an empty in-memory Derby and
      * q189's partitioned read fails loudly with "MRCONSO does not
      * exist". That is acceptable for this bench fixture because the
      * axis runs a fixed 2-worker topology with no dynamic allocation;
      * the production S1 source is a network database
      * (`umls2rdf.py:64-70`) with no per-JVM state to replay. A
      * churn-tolerant variant would re-run the load lazily inside the
      * JDBC partition reader instead of a one-shot barrier. */
    def ensure(spark: SparkSession): Unit = {
      if (!driverLoaded) synchronized {
        if (!driverLoaded) {
          props // set derby.system.home before the engine boots
          DerbyFixtureLoader.load(payload(spark))
          driverLoaded = true
        }
      }
      if (!spark.sparkContext.isLocal && !executorsLoaded) synchronized {
        if (!executorsLoaded) {
          val data = payload(spark)
          val slots = math.max(spark.sparkContext.defaultParallelism, 1)
          spark.sparkContext.range(0L, slots.toLong, 1L, slots)
            .barrier()
            .mapPartitions { _ =>
              DerbyFixtureLoader.load(data)
              Iterator.single(1)
            }.count()
          executorsLoaded = true
        }
      }
    }
  }

  /** JVM-local Derby fixture load over a plain JDBC connection —
    * idempotent per JVM, callable from the driver and from executor
    * barrier tasks alike (see [[DerbyUmls]]). Explicit VARCHAR DDL:
    * Derby won't compare CLOB with string literals, which would break
    * the partition predicates, and MRSAT's CODE is NULL by design
    * (F5's filter subject), so nulls set with an explicit VARCHAR
    * type. */
  private[catalog] object DerbyFixtureLoader {
    @volatile private var loaded = false
    def load(tables: Seq[(String, Seq[String], Seq[Seq[String]])]): Unit =
      if (!loaded) synchronized {
        if (!loaded) {
          // Both JVM kinds boot identically (r17 ADVICE #3): the driver
          // path sets derby.system.home via DerbyUmls.props before the
          // engine loads, but executor JVMs reach here directly from
          // the barrier task — without this, derby.log lands in each
          // worker's CWD. Only effective before the engine boots, hence
          // guarded on absence.
          if (System.getProperty("derby.system.home") == null)
            System.setProperty("derby.system.home",
              java.nio.file.Files.createTempDirectory("graft-derby-exec")
                .toString)
          Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
          val conn = java.sql.DriverManager
            .getConnection(DerbyUmls.url)
          try {
            val st = conn.createStatement()
            for ((t, cols, rows) <- tables) {
              // replace, not append: a partial earlier load must not
              // double rows on re-entry
              try st.execute(s"DROP TABLE $t")
              catch { case _: java.sql.SQLException => () }
              st.execute(s"CREATE TABLE $t (" +
                cols.map(c => s"$c VARCHAR(4000)").mkString(", ") + ")")
              val ps = conn.prepareStatement(s"INSERT INTO $t VALUES (" +
                cols.map(_ => "?").mkString(",") + ")")
              for (r <- rows) {
                r.zipWithIndex.foreach { case (v, i) =>
                  if (v == null) ps.setNull(i + 1, java.sql.Types.VARCHAR)
                  else ps.setString(i + 1, v)
                }
                ps.addBatch()
              }
              ps.executeBatch()
              ps.close()
            }
            st.close()
          } finally conn.close()
          loaded = true
        }
      }
  }

  /** One-time Derby bootstrap, exposed so Bench can run it OUTSIDE
    * q189's timed window: the fixture load is setup, not the
    * partitioned-JDBC read the entry times. Safe to call twice — the
    * in-query ensure() then reduces to a volatile-flag check. */
  private[graft] def prewarmJdbc(spark: SparkSession): Unit =
    DerbyUmls.ensure(spark)

  private[graft] def umls: Seq[Q] = {
    val base = umlsBase
    val q25Oracle = base.find(_.name == "q25_concept_assemble").get.oracle
    // ----- q189: the SAME codes-mode assembly as q25, sourced through
    // the partitioned-JDBC reader (S1's production path) against an
    // in-memory Derby loaded from the same fixture — the one catalog
    // entry that puts UmlsSource.jdbc under the driver's timing and
    // oracle. It verifies against q25's EXACT oracle SQL (value
    // identity parquet-path ≡ JDBC-path), and JdbcSourceSpec pins that
    // the assembly's SAB/SUPPRESS filters reach the JDBC scan as
    // PushedFilters rather than running in Spark.
    base :+ Q("q189_jdbc_assembly",
      (s, _) => {
        DerbyUmls.ensure(s)
        flatConcepts(new ConceptAssembler(s,
          UmlsSource.jdbc(s, DerbyUmls.url, DerbyUmls.props,
            numPartitions = 3,
            split = UmlsSource.rangeSplit(Seq("C2", "C6"))), "FIX"))
      },
      q25Oracle)
  }

  private def umlsBase: Seq[Q] = Seq(

    // ----- q25: the full codes-mode concept assembly (F1/F2/F15/F16/F17,
    // J3-J9, A1/A3/A5-A7, C5) flattened to hash-comparable strings.
    // Reference dataflow: umls2rdf.py:586-743.
    Q("q25_concept_assemble",
      (s, _) =>
        flatConcepts(
          new ConceptAssembler(s, UmlsSource.parquet(s, FixtureDir),
            "FIX")),
      Some(s"""
        WITH atoms AS (
          SELECT CUI, AUI, TTY, CODE, STR
          FROM ${fx("MRCONSO")}
          WHERE SAB = 'FIX' AND upper(LAT) = 'ENG' AND SUPPRESS = 'N'
            AND CODE IS NOT NULL AND length(CODE) > 0
        ),
        atom_ids AS (SELECT DISTINCT AUI, CODE FROM atoms),
        rk AS (
          SELECT TTY, CAST(RANK AS INT) AS r
          FROM ${fx("MRRANK")} WHERE SAB = 'FIX'
        ),
        pref AS (
          SELECT CODE AS code, STR AS pref_label FROM (
            SELECT a.CODE, a.STR,
                   row_number() OVER (PARTITION BY a.CODE
                     ORDER BY rk.r DESC, a.AUI, a.CUI) AS rn
            FROM atoms a JOIN rk ON a.TTY = rk.TTY)
          WHERE rn = 1
        ),
        alt AS (
          SELECT d.CODE AS code,
                 string_agg(d.STR, '|' ORDER BY d.STR) AS alt_labels
          FROM (SELECT DISTINCT a.CODE, a.STR FROM atoms a) d
          JOIN pref p ON d.CODE = p.code AND d.STR <> p.pref_label
          GROUP BY d.CODE
        ),
        defs AS (
          SELECT a.CODE AS code,
                 string_agg(DISTINCT df.DEF, '|' ORDER BY df.DEF) AS defs
          FROM ${fx("MRDEF")} df
          JOIN atom_ids a ON df.AUI = a.AUI
          WHERE df.SAB = 'FIX'
          GROUP BY a.CODE
        ),
        cuis AS (
          SELECT CODE AS code,
                 string_agg(DISTINCT CUI, '|' ORDER BY CUI) AS cuis
          FROM atoms GROUP BY CODE
        ),
        tuis AS (
          SELECT ac.CODE AS code,
                 string_agg(DISTINCT st.TUI, '|' ORDER BY st.TUI) AS tuis
          FROM (SELECT DISTINCT CODE, CUI FROM atoms) ac
          JOIN ${fx("MRSTY")} st ON ac.CUI = st.CUI
          GROUP BY ac.CODE
        ),
        roots AS (
          SELECT DISTINCT CUI FROM ${fx("MRCONSO")}
          WHERE SAB = 'SRC' AND CODE = 'V-FIX'
        ),
        rels_att AS (
          SELECT r.CUI1, r.AUI1, r.REL, r.RELA, s.CODE AS code_source
          FROM ${fx("MRREL")} r
          JOIN atom_ids s ON r.AUI2 = s.AUI
          WHERE r.SAB = 'FIX' AND r.SUPPRESS = 'N'
        ),
        root_flag AS (
          SELECT code_source AS code,
                 max(CASE WHEN REL = 'CHD'
                       AND CUI1 IN (SELECT CUI FROM roots)
                     THEN 1 ELSE 0 END) = 1 AS is_root
          FROM rels_att GROUP BY code_source
        ),
        resolved AS (
          SELECT ra.code_source, ra.REL, ra.RELA, t.CODE AS code_target
          FROM rels_att ra
          JOIN atom_ids t ON ra.AUI1 = t.AUI
          WHERE t.CODE <> ra.code_source
        ),
        rels_s AS (
          SELECT code_source AS code,
                 string_agg(concat_ws(':', REL, RELA, code_source, code_target),
                   '|' ORDER BY concat_ws(':', REL, RELA, code_source, code_target))
                 AS rels
          FROM resolved GROUP BY code_source
        ),
        atts AS (
          SELECT sa.CODE AS code,
                 string_agg(concat_ws('=', sa.ATN, sa.ATV),
                   '|' ORDER BY concat_ws('=', sa.ATN, sa.ATV)) AS atts
          FROM ${fx("MRSAT")} sa
          WHERE sa.SAB = 'FIX' AND sa.CODE IS NOT NULL
            AND sa.CODE IN (SELECT CODE FROM atoms)
          GROUP BY sa.CODE
        )
        SELECT c.code,
               p.pref_label,
               coalesce(a.alt_labels, '') AS alt_labels,
               coalesce(d.defs, '') AS defs,
               c.cuis,
               coalesce(t.tuis, '') AS tuis,
               coalesce(rs.rels, '') AS rels,
               coalesce(at.atts, '') AS atts,
               coalesce(rf.is_root, false) AS is_root
        FROM cuis c
        JOIN pref p ON c.code = p.code
        LEFT JOIN alt a ON c.code = a.code
        LEFT JOIN defs d ON c.code = d.code
        LEFT JOIN tuis t ON c.code = t.code
        LEFT JOIN rels_s rs ON c.code = rs.code
        LEFT JOIN atts at ON c.code = at.code
        LEFT JOIN root_flag rf ON c.code = rf.code
        ORDER BY c.code""")),

    // ----- q25b: cuis-mode assembly — the A8 prefLabel cascade
    // (`umls2rdf.py:295-319`), one fixture CUI per branch; the DuckDB
    // oracle re-implements the cascade as branch-count CASE logic.
    Q("q25b_concept_cuis",
      (s, _) => {
        val asm = new ConceptAssembler(s, UmlsSource.parquet(s, FixtureDir),
          "CFX", loadOnCuis = true)
        asm.conceptsColumns()
          .select(col("code"),
            col("prefLabel").as("pref_label"),
            array_join(col("altLabels"), "|").as("alt_labels"))
          .orderBy("code")
      },
      Some(s"""
        WITH a AS (
          SELECT CUI, AUI, STT, ISPREF, TTY, STR,
                 row_number() OVER (PARTITION BY CUI ORDER BY AUI, CUI) AS rn
          FROM ${fx("MRCONSO")}
          WHERE SAB = 'CFX' AND upper(LAT) = 'ENG' AND SUPPRESS = 'N'
        ),
        st AS (
          SELECT CUI,
                 count(*) AS n_atoms,
                 count(DISTINCT STR) AS n_str,
                 count(*) FILTER (WHERE ISPREF = 'Y') AS n_pref,
                 count(*) FILTER (WHERE ISPREF = 'Y' AND STT = 'PF')
                   AS n_prefpf,
                 count(*) FILTER (WHERE TTY LIKE 'P%') AS n_ttyp,
                 min(CASE WHEN rn = 1 THEN STR END) AS first_str,
                 min(CASE WHEN ISPREF = 'Y' THEN STR END) AS pref_str,
                 min(CASE WHEN ISPREF = 'Y' AND STT = 'PF' THEN STR END)
                   AS prefpf_str,
                 min(CASE WHEN TTY LIKE 'P%' THEN STR END) AS ttyp_str,
                 min(STR) AS any_str
          FROM a GROUP BY CUI
        ),
        sel AS (
          SELECT CUI AS code,
                 CASE WHEN n_atoms = 1 THEN first_str
                      WHEN n_str = 1 THEN any_str
                      WHEN n_pref = 0 THEN first_str
                      WHEN n_pref = 1 THEN pref_str
                      WHEN n_prefpf = 0 THEN first_str
                      WHEN n_prefpf = 1 THEN prefpf_str
                      WHEN n_ttyp = 1 THEN ttyp_str
                      ELSE first_str END AS pref_label
          FROM st
        ),
        alt AS (
          SELECT d.CUI AS code,
                 string_agg(d.STR, '|' ORDER BY d.STR) AS alt_labels
          FROM (SELECT DISTINCT CUI, STR FROM a) d
          JOIN sel s ON d.CUI = s.code AND d.STR <> s.pref_label
          GROUP BY d.CUI
        )
        SELECT s.code, s.pref_label, coalesce(al.alt_labels, '') AS alt_labels
        FROM sel s LEFT JOIN alt al ON s.code = al.code
        ORDER BY s.code""")),

    // ----- q26: semantic-type hierarchy — P1 distinct scan, C11 STN parent
    // derivation, J13 self-join on parent tree-number
    // (umls2rdf.py:153-189).
    Q("q26_sty_hierarchy",
      (s, _) => {
        val mrsty = UmlsSource.parquet(s, FixtureDir).table("MRSTY")
        SemanticTypes.edges(mrsty)
          .orderBy("tui", "parent_tui")
      },
      Some(s"""
        WITH nodes AS (SELECT DISTINCT TUI, STN, STY FROM ${fx("MRSTY")}),
        child AS (
          SELECT TUI AS tui,
                 CASE WHEN STN LIKE '%.%'
                      THEN regexp_replace(STN, '\\.[^.]*$$', '')
                      ELSE substr(STN, 1, length(STN) - 1) END AS parent_stn
          FROM nodes),
        parent AS (SELECT DISTINCT TUI AS parent_tui, STN AS p_stn FROM nodes)
        SELECT DISTINCT tui, parent_tui
        FROM child JOIN parent ON parent_stn = p_stn
        WHERE tui <> parent_tui
        ORDER BY tui, parent_tui""")),

    // ----- q27: MRSAB record pick — F7 RSAB filter, F9/O7 CURVER='Y'
    // preference with deterministic VSAB tie-break (umls2rdf.py:115-122).
    Q("q27_mrsab_pick",
      (s, _) =>
        UmlsSource.parquet(s, FixtureDir).table("MRSAB")
          .filter(col("RSAB") === "FIX")
          .orderBy(coalesce(col("CURVER") === "Y", lit(false)).desc,
            col("VSAB").asc)
          .limit(1)
          .select(col("RSAB").as("rsab"), col("VSAB").as("vsab"),
            col("SVER").as("sver"), col("IMETA").as("imeta"),
            col("LAT").as("lat"), col("SSN").as("ssn")),
      Some(s"""
        SELECT RSAB AS rsab, VSAB AS vsab, SVER AS sver, IMETA AS imeta,
               LAT AS lat, SSN AS ssn
        FROM ${fx("MRSAB")}
        WHERE RSAB = 'FIX'
        ORDER BY coalesce(CURVER = 'Y', false) DESC, VSAB NULLS FIRST
        LIMIT 1""")),

    // ----- q28: MRDOC pivot — A14 VALUE -> (dockey, expanded_form,
    // inverse) with 'inverse'-in-TYPE normalization (umls2rdf.py:854-864).
    Q("q28_mrdoc_pivot",
      (s, _) =>
        PropertyDocs.pivot(
          UmlsSource.parquet(s, FixtureDir).table("MRDOC"))
          .orderBy("value"),
      Some(s"""
        SELECT VALUE AS value,
               min(DOCKEY) AS dockey,
               min(CASE WHEN TYPE = 'expanded_form' THEN EXPL END)
                 AS expanded_form,
               min(CASE WHEN TYPE LIKE '%inverse%' THEN EXPL END) AS inverse
        FROM ${fx("MRDOC")}
        GROUP BY VALUE
        ORDER BY VALUE""")),

    // ----- q29: MeSH D-tree — J2 3-way join with the D% predicates and NO
    // SUPPRESS filter, A13 child -> sorted parent set
    // (umls2rdf.py:201-217).
    Q("q29_mesh_tree",
      (s, _) => {
        val asm = new ConceptAssembler(s, UmlsSource.parquet(s, FixtureDir), "MSH")
        asm.meshTree
          .select(col("child"),
            array_join(array_sort(col("parents")), "|").as("parents"))
          .orderBy("child")
      },
      Some(s"""
        WITH msh AS (
          SELECT DISTINCT CUI, CODE FROM ${fx("MRCONSO")}
          WHERE SAB = 'MSH' AND CODE LIKE 'D%'
        ),
        chd AS (
          SELECT CUI1, CUI2 FROM ${fx("MRREL")}
          WHERE SAB = 'MSH' AND REL = 'CHD'
        ),
        edges AS (
          SELECT DISTINCT c1.CODE AS parent, c2.CODE AS child
          FROM chd
          JOIN msh c1 ON chd.CUI1 = c1.CUI
          JOIN msh c2 ON chd.CUI2 = c2.CUI
        )
        SELECT child, string_agg(parent, '|' ORDER BY parent) AS parents
        FROM edges GROUP BY child
        ORDER BY child""")),

    // ----- q25s: the SAME assembly dataflow at bench scale — UMLS-shaped
    // tables derived by pure projection from the harness lineitem/orders
    // parquet (sf0.1: ~600k atoms, ~450k rels, ~20k codes), so the bench
    // times the engine's core groupBy/join spine on real volume, not the
    // 16-row fixture. Values are engine-derived (no oracle); the per-code
    // aggregate keeps output small.
    Q("q25s_assembly_scale",
      (s, d) => {
        val asm = new ConceptAssembler(s, scaleSource(s, d), "BIG")
        // Materialize.cut before the display orderBy (r20, guide §1.2):
        // the global sort's range partitioner SAMPLES its child, so the
        // live join+finish subtree executed twice per run; the cut
        // materializes the 20k small result rows once and the sort
        // samples/shuffles the checkpoint. Same rows, same order.
        asm.conceptsColumns()
          .select(col("code"), col("prefLabel"),
            size(col("altLabels")).as("n_alt"), size(col("rels")).as("n_rels"),
            size(col("atts")).as("n_atts"), size(col("cuis")).as("n_cuis"),
            size(col("tuis")).as("n_tuis"))
          .transform(graft.operators.Materialize.cut)
          .orderBy("code")
      },
      None),

    // ----- q25t: the SAME assembly at the SAME volume but SKEWED — every
    // 10th partkey collapses into one code, so ~10% of all atoms (and att
    // rows) land on a single groupBy key (the SNOMEDCT/LNC shape SURVEY §4
    // names as the 100× hazard; q25s's synthetic SAB is uniform). Runs
    // with saltBuckets=8: the hot code's collect_list builds partial
    // arrays on 8 parallel tasks and the final reducer concatenates 8
    // pre-built arrays instead of receiving 60k atom rows. Salted ≡
    // unsalted is spec-pinned; the two-stage plan shape is CI-asserted
    // (PlanShapeSpec); the bench gate is ~1.5× of uniform q25s.
    Q("q25t_assembly_skewed",
      (s, d) => {
        val asm = new ConceptAssembler(s, scaleSource(s, d, hotEvery = 10),
          "BIG", saltBuckets = 8)
        // cut-before-orderBy: same double-sampling fix as q25s.
        asm.conceptsColumns()
          .select(col("code"), col("prefLabel"),
            size(col("altLabels")).as("n_alt"), size(col("rels")).as("n_rels"),
            size(col("atts")).as("n_atts"), size(col("cuis")).as("n_cuis"),
            size(col("tuis")).as("n_tuis"))
          .transform(graft.operators.Materialize.cut)
          .orderBy("code")
      },
      None),

    // ----- q25e: the FULL export dataflow at bench scale — the
    // reference's per-SAB budget (README.md:29-31, ≈360 s/SAB single
    // thread) covers assemble → toRDF render → single-file write
    // (umls2rdf.py:586-789), so the bench needs an entry timing exactly
    // that S5/§3.1 composition, not assembly alone (q25s). Runs
    // ConceptAssembler → ConceptRenderer → OntologyWriter (executors
    // write sorted text parts, the driver concatenates bytes) over the
    // q25s BIG source to a temp
    // dir, and returns the WriteReport as one row (rows-only by design:
    // the fixture e2e goldens pin the VALUES; this entry times the
    // dataflow at volume).
    Q("q25e_export_e2e",
      (s, d) => {
        import graft.model.OntologyJob
        import graft.sink.{OntologyWriter, UmlsExportConfig}
        import graft.assemble.PropertyDoc
        val outDir = java.nio.file.Files
          .createTempDirectory("graft_export_").toFile
        val outFile = new java.io.File(outDir, "big.ttl").getAbsolutePath
        val docs = Map(
          "SIZE" -> PropertyDoc("ATN", Some("Size attribute"), None),
          "part_of" -> PropertyDoc("RELA", Some("Part of"), None),
          "RO" -> PropertyDoc("REL", Some("Related to"), None))
        val report = OntologyWriter.write(
          s, scaleSource(s, d), OntologyJob("BIG", None, outFile, false),
          UmlsExportConfig(umlsVersion = "2026AA",
            includeSemanticTypes = false),
          outFile, docs, "")
        val bytes = new java.io.File(outFile).length()
        // The export ran eagerly above; nothing later reads the file, so
        // reclaim the temp dir now — repeated bench/verify cycles must
        // not accumulate multi-hundred-MB orphan exports in /tmp.
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
          f.delete(); ()
        }
        rm(outDir)
        import s.implicits._
        Seq((report.sab, report.terms, report.errors, report.dupLiteral,
          report.dupObject, report.dupSubclass, bytes > 0L))
          .toDF("sab", "terms", "errors", "dup_literal", "dup_object",
            "dup_subclass", "file_nonempty")
      },
      None),

    // ----- q25m: MULTI-SAB export over the SHARED SCAN — the release
    // sweep shape (the reference loops 35 SABs over the same MySQL
    // tables; umls2rdf.py:860-895). Four SABs split the q25s volume;
    // UmlsSource.sharedScan persists each fat table ONCE (SAB-pruned
    // union filter) and the four exports run in parallel threads against
    // it — the 12-SAB profile measured 5.4 s shared vs 11.0 s direct,
    // and UmlsPipelineSpec pins both byte-identity with direct runs and
    // job-count-independent inner scan counts (now load-bearing in this
    // bench entry). Rows-only by design: the fixture e2e goldens +
    // byte-identity spec pin the VALUES; this entry times the dataflow.
    Q("q25m_export_multi_sab",
      (s, d) => {
        val outDir = java.nio.file.Files
          .createTempDirectory("graft_msab_").toFile
        val sabs = (0 until 4).map(i => s"B$i")
        val reports = multiSabExport(s, scaleSource(s, d, nSabs = 4),
          sabs, outDir)
        val sizes = sabs.map(sab =>
          new java.io.File(outDir, s"$sab.ttl").length())
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
          f.delete(); ()
        }
        rm(outDir)
        import s.implicits._
        reports.sortBy(_.sab).zip(sizes).map { case (r, sz) =>
          (r.sab, r.terms, r.errors, sz > 0L)
        }.toDF("sab", "terms", "errors", "file_nonempty").orderBy("sab")
      },
      None))

  /** The q25m dataflow, factored so UmlsPipelineSpec can drive it with a
    * counting source: shared scan over `inner`, one export per SAB on a fixed thread pool, reports returned in
    * completion-independent (input) order. */
  private[graft] def multiSabExport(s: SparkSession,
      inner: UmlsSource, sabs: Seq[String], outDir: java.io.File,
      parallelism: Int = 4): Seq[graft.sink.WriteReport] = {
    import graft.model.OntologyJob
    import graft.sink.{OntologyWriter, UmlsExportConfig}
    import graft.assemble.PropertyDoc
    // the q25e doc set: every predicate the synthetic SABs emit (J10
    // raises on a missing doc by reference design)
    val docs = Map(
      "SIZE" -> PropertyDoc("ATN", Some("Size attribute"), None),
      "part_of" -> PropertyDoc("RELA", Some("Part of"), None),
      "RO" -> PropertyDoc("REL", Some("Related to"), None))
    val shared = UmlsSource.sharedScan(inner, sabs)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(parallelism, sabs.size)))
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futures = sabs.map { sab =>
        scala.concurrent.Future {
          val outFile = new java.io.File(outDir, s"$sab.ttl").getAbsolutePath
          OntologyWriter.write(s, shared,
            OntologyJob(sab, None, outFile, loadOnCuis = false),
            UmlsExportConfig(umlsVersion = "2026AA",
              includeSemanticTypes = false),
            outFile, docs, "")
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futures),
        scala.concurrent.duration.Duration.Inf)
    } finally {
      pool.shutdown()
      shared.release()
    }
  }

  /** UMLS-shaped tables projected from the harness lake (TESTDATA.md):
    * lineitem lines become atoms (one per (order, line); code = part),
    * consecutive lines become rels, orders become defs, parts become
    * atts, customers-of-orders become STY rows. Everything is a narrow
    * projection — the scan cost stays parquet-side.
    *
    * `hotEvery > 0` collapses every partkey divisible by it into the
    * single code `X0` — a deliberately skewed SAB (hotEvery=10 → one code
    * holds ~10% of all atoms and att rows) for the q25t skew evidence.
    * `nSabs > 1` splits the same volume across `B0..B{n-1}` SABs (keyed
    * by orderkey for atoms/rels/defs/sty, partkey for atts) — the
    * multi-ontology lake shape the q25m shared-scan export sweeps. */
  private[graft] def scaleSource(s: SparkSession, dir: String,
      hotEvery: Int = 0, nSabs: Int = 1): UmlsSource = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    val ord = s.read.parquet(s"$dir/orders.parquet")
    val part = s.read.parquet(s"$dir/part.parquet")
    val e = lit("")
    def codeOf(partkey: org.apache.spark.sql.Column) =
      if (hotEvery <= 0) concat(lit("X"), partkey)
      else when(pmod(partkey, lit(hotEvery)) === 0, lit("X0"))
        .otherwise(concat(lit("X"), partkey))
    val sabNames =
      if (nSabs <= 1) Seq("BIG") else (0 until nSabs).map(i => s"B$i")
    def sabOf(key: org.apache.spark.sql.Column) =
      if (nSabs <= 1) lit("BIG")
      else concat(lit("B"), pmod(key, lit(nSabs)))
    val atoms = li.select(
      concat(lit("C"), col("l_orderkey")).as("CUI"), lit("ENG").as("LAT"),
      lit("P").as("TS"), e.as("LUI"), lit("PF").as("STT"), e.as("SUI"),
      when(col("l_linenumber") === 1, "Y").otherwise("N").as("ISPREF"),
      concat(lit("A"), col("l_orderkey") * 100 + col("l_linenumber"))
        .as("AUI"),
      e.as("SAUI"), e.as("SCUI"), e.as("SDUI"),
      sabOf(col("l_orderkey")).as("SAB"),
      when(col("l_linenumber") === 1, "PT").otherwise("SY").as("TTY"),
      codeOf(col("l_partkey")).as("CODE"),
      concat(lit("part "), col("l_partkey"), lit(" order "),
        col("l_orderkey"), lit(" line "), col("l_linenumber")).as("STR"),
      lit("0").as("SRL"), lit("N").as("SUPPRESS"), e.as("CVF"))
    // Consecutive-line rels via window lag — one shuffle keyed by order,
    // not a self-join (same rows: source = line n, target = line n+1).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy("l_linenumber")
    val rels = li
      .withColumn("next_line", lead(col("l_linenumber"), 1).over(w))
      .filter(col("next_line").isNotNull)
      .select(
        concat(lit("C"), col("l_orderkey")).as("CUI1"),
        concat(lit("A"), col("l_orderkey") * 100 + col("next_line"))
          .as("AUI1"),
        lit("AUI").as("STYPE1"),
        when(col("l_linenumber") % 5 === 0, "CHD").otherwise("RO").as("REL"),
        concat(lit("C"), col("l_orderkey")).as("CUI2"),
        concat(lit("A"), col("l_orderkey") * 100 + col("l_linenumber"))
          .as("AUI2"),
        lit("AUI").as("STYPE2"),
        when(col("l_linenumber") % 2 === 0, "part_of").otherwise(e)
          .as("RELA"),
        e.as("RUI"), e.as("SRUI"), sabOf(col("l_orderkey")).as("SAB"),
        sabOf(col("l_orderkey")).as("SL"),
        e.as("RG"), e.as("DIR"), lit("N").as("SUPPRESS"), e.as("CVF"))
    val defs = ord.select(
      concat(lit("C"), col("o_orderkey")).as("CUI"),
      concat(lit("A"), col("o_orderkey") * 100 + 1).as("AUI"),
      e.as("ATUI"), e.as("SATUI"), sabOf(col("o_orderkey")).as("SAB"),
      col("o_orderpriority").as("DEF"), lit("N").as("SUPPRESS"), e.as("CVF"))
    val atts = part.select(
      concat(lit("C"), col("p_partkey")).as("CUI"), e.as("LUI"), e.as("SUI"),
      e.as("METAUI"), lit("AUI").as("STYPE"),
      concat(lit("X"), col("p_partkey")).as("CODE"), e.as("ATUI"),
      e.as("SATUI"), lit("SIZE").as("ATN"),
      sabOf(col("p_partkey")).as("SAB"),
      col("p_size").cast("string").as("ATV"), lit("N").as("SUPPRESS"),
      e.as("CVF"))
    val sty = ord.select(
      concat(lit("C"), col("o_orderkey")).as("CUI"),
      concat(lit("T"), col("o_custkey") % 50).as("TUI"),
      e.as("STN"), e.as("STY"), e.as("ATUI"), e.as("CVF"))
    val rank = s.createDataFrame(java.util.Arrays.asList(
        sabNames.flatMap(sab => Seq(
          org.apache.spark.sql.Row("0400", sab, "PT", "N"),
          org.apache.spark.sql.Row("0300", sab, "SY", "N"))): _*),
      UmlsSource.schemaOf("MRRANK"))
    // One current-version MRSAB row per SAB so the q25e/q25m full-export
    // paths can run their J11/F9 header lookups against the synthetic
    // SABs.
    def mrsabValsOf(sab: String) = UmlsSource.schemaOf("MRSAB").fieldNames.map {
      case "RSAB" => sab; case "VSAB" => s"${sab}2026"
      case "SON" => "Synthetic bench source"; case "SVER" => "2026"
      case "IMETA" => "2026AA"; case "LAT" => "ENG"; case "CURVER" => "Y"
      case "SSN" => "Synthetic bench source"; case _ => ""
    }
    val mrsab = s.createDataFrame(java.util.Arrays.asList(
        sabNames.map(sab =>
          org.apache.spark.sql.Row(mrsabValsOf(sab): _*)): _*),
      UmlsSource.schemaOf("MRSAB"))
    UmlsSource.fixed(Map(
      "MRCONSO" -> atoms, "MRREL" -> rels, "MRDEF" -> defs,
      "MRSAT" -> atts, "MRSTY" -> sty, "MRRANK" -> rank,
      "MRSAB" -> mrsab))
  }
}
