package graft.assemble

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.UmlsSource

/** MRSAB source-vocabulary metadata lookup (J11/F7/F9/O7/C14/F18,
  * `umls2rdf.py:115-122,563-597`).
  *
  * One row per ontology: filter `RSAB = sab`, prefer `CURVER = 'Y'`, else
  * "the first row" — the reference takes MySQL scan order, which is
  * unreproducible; we canonicalize the tie-break by VSAB so the pick is
  * deterministic. The pick runs on the driver over the collected MRSAB
  * rows ([[ReleaseLookups.mrsab]]; the reference's J11 is exactly this
  * shape).
  */
final case class MrsabRecord(fields: Map[String, String]) {

  /** `mrsab_value` (`umls2rdf.py:563-566`): field if *truthy* — empty
    * string is absent, the MySQL-VARCHAR falsiness rule. */
  def value(name: String): Option[String] =
    fields.get(name).filter(_.nonEmpty)

  def version(confVersion: String): String = value("SVER").getOrElse(confVersion)
  def label(ontCode: String): String = value("SSN").getOrElse(ontCode)
  def source(confVersion: String): String =
    s"UMLS ${value("IMETA").getOrElse(confVersion)}"
  def altLabel: Option[String] = value("RSAB")
  def lat: Option[String] = value("LAT")

  /** F18 gate (`umls2rdf.py:583-584`). */
  def isCurrentVersion(confVersion: String): Boolean =
    value("IMETA").contains(confVersion)
}

object Mrsab {

  /** `get_mrsab_record` (`umls2rdf.py:115-122`) for one SAB — a view over
    * its [[ReleaseLookups]], which holds the pick. */
  def record(source: UmlsSource, sab: String): Option[MrsabRecord] =
    ReleaseLookups.forSab(source, sab).mrsab(sab)

  /** Defaults used when no MRSAB row exists (`umls2rdf.py:563-584`
    * coalescers all fall through to conf values). */
  def orEmpty(rec: Option[MrsabRecord]): MrsabRecord =
    rec.getOrElse(MrsabRecord(Map.empty))
}

/** MRDOC property documentation pivot (A14, `umls2rdf.py:854-864`) and the
  * property-block join (J10, `umls2rdf.py:812-820`).
  */
final case class PropertyDoc(
    dockey: String, expandedForm: Option[String], inverse: Option[String])

object PropertyDocs {

  /** The pivot as a DataFrame: `VALUE -> (dockey, expanded_form, inverse)`.
    * TYPE values containing "inverse" collapse to one `inverse` column.
    * The reference's "first-seen wins" depends on MySQL scan order; we
    * canonicalize with `min` so the result is deterministic. */
  def pivot(mrdoc: DataFrame): DataFrame =
    mrdoc
      .withColumn("type_n",
        when(col("TYPE").contains("inverse"), "inverse").otherwise(col("TYPE")))
      .groupBy(col("VALUE").as("value"))
      .agg(
        min("DOCKEY").as("dockey"),
        min(when(col("type_n") === "expanded_form", col("EXPL")))
          .as("expanded_form"),
        min(when(col("type_n") === "inverse", col("EXPL"))).as("inverse"))

  /** Collected broadcastable map (MRDOC is a few thousand rows). */
  def collectMap(mrdoc: DataFrame): Map[String, PropertyDoc] =
    pivot(mrdoc).collect().iterator.map { r =>
      val get = (i: Int) => if (r.isNullAt(i)) None else Some(r.getString(i))
      r.getString(0) -> PropertyDoc(
        dockey = get(1).getOrElse(""),
        expandedForm = get(2), inverse = get(3))
    }.toMap
}
