package graft.assemble

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.functions.SqlFns.sparkStringOrder
import graft.sources.UmlsSource

/** The release's small per-SAB lookups for a set of SABs, read as three
  * plain scans (no sort, no shuffle) and answered on the driver: the
  * MRSAB record (J11/F9), the MRRANK rank-by-TTY map (A7) and the SRC
  * root CUIs (F2). The reference fetches the same lookups once and loops
  * (`umls2rdf.py:115-122,612-614,654-658`).
  *
  * [[load]] reads all three at once, concurrently, for a whole manifest;
  * an export run builds one per `run()` and every SAB's export reads
  * from it.
  * [[forSab]] reads each lookup of one SAB on first use — the per-call
  * path of callers without a run ([[Mrsab.record]], a bare
  * [[ConceptAssembler]], the 7-argument `OntologyWriter.write`). Neither
  * is cached beyond its holder, so a later run sees a rewritten lake.
  */
final class ReleaseLookups private (source: UmlsSource, sabs: Seq[String]) {

  // One cell per table: lazy vals of one object initialize under that
  // object's lock, so separate cells let [[load]] read all three at once.
  private val mrsabCell = new Cell(
    source.table("MRSAB").filter(col("RSAB").isin(sabs: _*)).collect().toSeq)

  /** `(SAB, TTY, RANK as int)` in scan order. The cast runs in Spark, so
    * a non-numeric RANK fails the read exactly as the per-SAB query did. */
  private val rankCell = new Cell(
    source.table("MRRANK").filter(col("SAB").isin(sabs: _*))
      .select(col("SAB"), col("TTY"), col("RANK").cast("int"))
      .collect().toSeq)

  /** `(CODE, CUI)` of the SRC `V-<sab>` atoms. */
  private val rootCell = new Cell(
    source.table("MRCONSO")
      .filter(col("SAB") === "SRC" && col("CODE").isin(sabs.map("V-" + _): _*))
      .select(col("CODE"), col("CUI"))
      .collect().toSeq)

  private def cells: Seq[Cell] = Seq(mrsabCell, rankCell, rootCell)

  private def covers(sab: String): Unit =
    require(sabs.contains(sab), s"release lookups were not read for SAB $sab")

  /** `get_mrsab_record` (`umls2rdf.py:115-122`): the `RSAB = sab` row
    * that `orderBy(coalesce(CURVER = 'Y', false) desc, VSAB asc).limit(1)`
    * picks — a 'Y' row first, then the rest (NULL CURVER among them);
    * VSAB in Spark's order; a full tie keeps the first row in scan order. */
  def mrsab(sab: String): Option[MrsabRecord] = {
    covers(sab)
    val rows = mrsabCell.rows.filter(r => sab == r.getAs[String]("RSAB"))
    if (rows.isEmpty) None
    else {
      def curver(r: Row) = if (r.getAs[String]("CURVER") == "Y") 0 else 1
      val key = Ordering.Tuple2(Ordering.Int, sparkStringOrder)
      val r = rows.minBy(r => (curver(r), r.getAs[String]("VSAB")))(key)
      Some(MrsabRecord(r.schema.fieldNames.iterator.zipWithIndex.map {
        case (n, i) => n -> (if (r.isNullAt(i)) "" else r.getString(i))
      }.toMap))
    }
  }

  /** MRRANK rank by TTY for `sab` (`umls2rdf.py:654-658`); for a TTY
    * listed twice the last row in scan order wins. */
  def rankByTty(sab: String): Map[String, Int] = {
    covers(sab)
    rankCell.rows.iterator.filter(r => sab == r.getString(0)).map { r =>
      if (r.isNullAt(2)) throw new IllegalStateException(
        s"MRRANK has a NULL RANK for TTY ${r.getString(1)} in SAB $sab")
      r.getString(1) -> r.getInt(2)
    }.toMap
  }

  /** F2 root CUIs: the CUIs of the SRC `V-<sab>` atoms
    * (`umls2rdf.py:612-614`). */
  def cuiRoots(sab: String): Set[String] = {
    covers(sab)
    rootCell.rows.iterator.filter(r => r.getString(0) == s"V-$sab")
      .map(_.getString(1)).toSet
  }
}

/** The rows of one lookup table, read on first use. */
private final class Cell(read: => Seq[Row]) {
  lazy val rows: Seq[Row] = read
}

object ReleaseLookups {

  /** Read every lookup of `sabs` now: three plain scans, one thread each,
    * each Spark job keeping the caller's job group and description. A
    * failed scan fails the load with its own exception. */
  def load(source: UmlsSource, sabs: Seq[String]): ReleaseLookups = {
    val l = new ReleaseLookups(source, sabs.distinct)
    val pool = Executors.newFixedThreadPool(l.cells.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    // Finite bound: the scans finish in seconds on a healthy run; a
    // wedged one fails the load instead of hanging it.
    try Await.result(Future.traverse(l.cells)(c => Future(c.rows)), 30.minutes)
    finally pool.shutdown()
    l
  }

  /** The lookups of one SAB, each read on first use. */
  def forSab(source: UmlsSource, sab: String): ReleaseLookups =
    new ReleaseLookups(source, Seq(sab))
}
