package graft.assemble

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.UmlsSource

/** The driver-side lookups of [[ReleaseLookups]] against the Spark plans
  * they replaced, on both source paths (RRF: absent values are ""; the
  * in-memory path: absent values are NULL). */
class ReleaseLookupsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** U+1F600: after U+FFFD in Spark's (code-point) order, before it in
    * `String.compareTo` (UTF-16 units). */
  private val Emoji = "😀"

  private def sabRow(rsab: String, vsab: String, curver: String,
      ssn: String): Map[String, String] =
    Map("RSAB" -> rsab, "VSAB" -> vsab, "CURVER" -> curver, "SSN" -> ssn,
      "LAT" -> "ENG")

  private val mrsab = Seq(
    sabRow("S1", "S1_2024", "N", "old"), sabRow("S1", "S1_2025", "Y", "cur"),
    // NULL CURVER (absent) loses to 'Y' and ties with 'N' on VSAB
    sabRow("S2", "S2_B", null, "nocurver"), sabRow("S2", "S2_A", "Y", "cur"),
    sabRow("S9", "S9_B", null, "nocurver"), sabRow("S9", "S9_A", "N", "n"),
    sabRow("S3", "S3_b", "Y", "b"), sabRow("S3", "S3_a", "Y", "a"),
    // full tie on (CURVER, VSAB): the first row in scan order
    sabRow("S4", "S4", "Y", "first"), sabRow("S4", "S4", "Y", "second"),
    sabRow("S5", "V" + Emoji, "Y", "emoji"), sabRow("S5", "V�", "Y", "fffd"),
    sabRow("S6", null, "N", "nullvsab"), sabRow("S6", "A", "N", "a"),
    sabRow("S8", "x", "N", "x"), sabRow("S8", "w", "N", "w"))

  private def rank(sab: String, tty: String, r: String) =
    Map("SAB" -> sab, "TTY" -> tty, "RANK" -> r)

  private val mrrank = Seq(
    rank("S1", "PT", "0400"), rank("S1", "SY", "0300"),
    rank("S1", "PT", "0500"), // duplicate TTY: the later row wins
    rank("S2", "PT", "7"), rank("BAD", "PT", "not-a-number"))

  private def atom(sab: String, code: String, cui: String) =
    Map("SAB" -> sab, "CODE" -> code, "CUI" -> cui, "LAT" -> "ENG",
      "SUPPRESS" -> "N")

  private val mrconso = Seq(
    atom("SRC", "V-S1", "C1"), atom("SRC", "V-S1", "C2"),
    atom("SRC", "V-S1", "C1"), atom("SRC", "V-S2", "C3"),
    atom("SRC", "V-S1X", "C9"), // another SAB's root, not a prefix match
    atom("S1", "V-S1", "C8")) // not an SRC atom

  private val paths = TestSpark.bothPaths(Map(
    "MRSAB" -> mrsab, "MRRANK" -> mrrank, "MRCONSO" -> mrconso))

  private val sabs = Seq("S1", "S2", "S3", "S4", "S5", "S6", "S7", "S8", "S9")

  // ---- the per-SAB Spark plans the snapshot replaced -------------------

  private def oldMrsab(src: UmlsSource, sab: String): Option[MrsabRecord] =
    src.table("MRSAB").filter(col("RSAB") === sab)
      .orderBy(coalesce(col("CURVER") === "Y", lit(false)).desc,
        col("VSAB").asc)
      .limit(1).collect().headOption.map { r =>
        MrsabRecord(r.schema.fieldNames.iterator.zipWithIndex.map {
          case (n, i) => n -> (if (r.isNullAt(i)) "" else r.getString(i))
        }.toMap)
      }

  private def oldRanks(src: UmlsSource, sab: String): Map[String, Int] = {
    val s = spark
    import s.implicits._
    src.table("MRRANK").filter(col("SAB") === sab)
      .select(col("TTY"), col("RANK").cast("int").as("rank"))
      .as[(String, Int)].collect().toMap
  }

  private def oldRoots(src: UmlsSource, sab: String): Set[String] = {
    val s = spark
    import s.implicits._
    src.table("MRCONSO")
      .filter(col("SAB") === "SRC" && col("CODE") === s"V-$sab")
      .select("CUI").distinct().as[String].collect().toSet
  }

  test("MRSAB pick equals the orderBy/limit plan: CURVER NULL/Y/N, VSAB " +
    "order and ties, on both source paths") {
    for ((path, src) <- paths) {
      val snap = ReleaseLookups.load(src, sabs)
      for (sab <- sabs) {
        val want = oldMrsab(src, sab)
        assert(snap.mrsab(sab) === want, s"$path $sab")
        assert(Mrsab.record(src, sab) === want, s"$path $sab (per call)")
      }
      def ssn(sab: String) = snap.mrsab(sab).flatMap(_.value("SSN"))
      assert(ssn("S1") === Some("cur"))
      assert(ssn("S3") === Some("a"))
      assert(ssn("S4") === Some("first"))
      assert(ssn("S5") === Some("fffd"), "VSAB in code-point order")
      assert(ssn("S8") === Some("w"))
      assert(snap.mrsab("S7") === None)
      // a NULL CURVER ranks with the non-'Y' rows, as "" does on RRF
      assert(ssn("S2") === Some("cur"))
      assert(ssn("S9") === Some("n"))
      // an absent VSAB (NULL, or "") sorts before "A" on both
      assert(ssn("S6") === Some("nullvsab"))
    }
  }

  test("MRRANK map equals the collect().toMap plan: a duplicate TTY keeps " +
    "the later row; a non-numeric RANK fails the same way") {
    for ((path, src) <- paths) {
      val snap = ReleaseLookups.load(src, Seq("S1", "S2", "S3"))
      for (sab <- Seq("S1", "S2", "S3"))
        assert(snap.rankByTty(sab) === oldRanks(src, sab), s"$path $sab")
      assert(snap.rankByTty("S1") === Map("PT" -> 500, "SY" -> 300))
      assert(snap.rankByTty("S3") === Map.empty)

      val old = intercept[Exception](oldRanks(src, "BAD"))
      val viaLoad = intercept[Exception](ReleaseLookups.load(src, Seq("BAD")))
      val perCall = intercept[Exception](
        ReleaseLookups.forSab(src, "BAD").rankByTty("BAD"))
      assert(viaLoad.getClass === old.getClass, s"$path: $viaLoad vs $old")
      assert(perCall.getClass === old.getClass, s"$path: $perCall vs $old")
    }
  }

  test("root CUIs equal the distinct-collect plan for several V-<sab> atoms") {
    for ((path, src) <- paths) {
      val snap = ReleaseLookups.load(src, Seq("S1", "S2", "S3"))
      for (sab <- Seq("S1", "S2", "S3"))
        assert(snap.cuiRoots(sab) === oldRoots(src, sab), s"$path $sab")
      assert(snap.cuiRoots("S1") === Set("C1", "C2"))
      assert(snap.cuiRoots("S2") === Set("C3"))
      assert(snap.cuiRoots("S3") === Set.empty)
    }
  }

  test("a snapshot reads each table once, refuses a SAB it did not read, " +
    "and the per-call view reads only what is asked") {
    val (_, inner) = paths.head
    val reads = mutable.Map.empty[String, Int]
    val counting = new UmlsSource {
      def table(name: String) = {
        reads(name) = reads.getOrElse(name, 0) + 1
        inner.table(name)
      }
    }
    val snap = ReleaseLookups.load(counting, Seq("S1", "S2", "S1"))
    sabs.take(2).foreach { s =>
      snap.mrsab(s); snap.rankByTty(s); snap.cuiRoots(s)
    }
    assert(reads === Map("MRSAB" -> 1, "MRRANK" -> 1, "MRCONSO" -> 1))
    intercept[IllegalArgumentException](snap.mrsab("S3"))

    reads.clear()
    Mrsab.record(counting, "S1")
    assert(reads === Map("MRSAB" -> 1))
  }
}
