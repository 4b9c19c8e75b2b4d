package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.{OntologyJob, UmlsSchemas}

/** Pluggable readers for the UMLS Metathesaurus tables.
  *
  * The reference stages RRF files into MySQL and paginates with
  * LIMIT/OFFSET (`umls2rdf.py:228-259` — O(n²) server-side); Spark needs no
  * staging DB: it reads RRF pipe-delimited files (or parquet mirrors of
  * them) directly with partitioned, filter-pushdown scans, or JDBC with
  * `partitionColumn` parallel reads where a DB already exists.
  */
trait UmlsSource {
  /** Load one RRF table ("MRCONSO", …) with its canonical named schema. */
  def table(name: String): DataFrame
}

object UmlsSource {

  /** RRF pipe-delimited files (`<dir>/<NAME>.RRF`). Lines are `|`-separated
    * with a trailing `|`; values are never quoted and never contain `|`,
    * so a plain split is exact (and stays a narrow codegen'd projection).
    * Empty fields become empty strings — preserving the reference's
    * MySQL-VARCHAR semantics where '' (not NULL) is the absent value
    * (SURVEY.md §7.3 "hard parts" #2). */
  def rrf(spark: SparkSession, dir: String): UmlsSource = new UmlsSource {
    def table(name: String): DataFrame = {
      val schema = schemaOf(name)
      val raw = spark.read.text(s"$dir/$name.RRF")
      val parts = split(col("value"), "\\|", -1)
      val cols = schema.fields.zipWithIndex.map { case (f, i) =>
        parts.getItem(i).as(f.name)
      }
      raw.select(cols.toIndexedSeq: _*)
    }
  }

  /** Parquet mirrors (`<dir>/<NAME>.parquet`) — the test/bench path, and
    * the recommended lake format at scale (column pruning + predicate
    * pushdown + partition pruning on SAB). */
  def parquet(spark: SparkSession, dir: String): UmlsSource = new UmlsSource {
    def table(name: String): DataFrame =
      spark.read.parquet(s"$dir/$name.parquet")
  }

  /** MySQL split predicate (the reference's DB, `umls2rdf.py:149-151`):
    * `crc32(<key>) % n = i` — near-uniform slices off the string key. */
  def crc32Split(key: String, n: Int, i: Int): String =
    s"crc32($key) % $n = $i"

  /** ANSI-only alternative: range predicates from `cuts.length + 1`
    * sorted cut points — complete and disjoint for any non-null key,
    * valid in every SQL dialect, and index-RANGE-scan friendly where a
    * hash-of-key predicate forces a full scan. Cut points come from the
    * key's known distribution (UMLS CUIs are dense `C<7 digits>`). */
  def rangeSplit(cuts: Seq[String]): (String, Int, Int) => String =
    (key, n, i) => {
      require(n == cuts.length + 1,
        s"rangeSplit needs ${cuts.length + 1} partitions, got $n")
      if (n == 1) s"$key IS NOT NULL"
      else if (i == 0) s"$key < '${cuts.head}'"
      else if (i == n - 1) s"$key >= '${cuts.last}'"
      else s"$key >= '${cuts(i - 1)}' AND $key < '${cuts(i)}'"
    }

  /** JDBC source (replaces S1/S2 pagination with genuinely partitioned
    * reads — the reference's LIMIT/OFFSET loop re-scans the table per
    * page, O(n²) server-side).
    *
    * UMLS keys are strings, so numeric partitionColumn bounds don't
    * apply; instead the fat tables split into `numPartitions` disjoint
    * server-side predicates on a dialect hash of the key — each
    * partition is one indexed-scan-friendly slice, executed
    * concurrently; the predicate set MUST be complete and disjoint
    * (every row matches exactly one), which the integration spec
    * asserts. Small metadata tables (MRRANK/MRSAB/MRDOC/MRSTY) read in
    * one partition. `split` defaults to MySQL's crc32
    * ([[crc32Split]]); pass [[rangeSplit]] (or a dialect hash) for other
    * engines. */
  def jdbc(spark: SparkSession, url: String, props: java.util.Properties,
      numPartitions: Int = 8,
      split: (String, Int, Int) => String = crc32Split): UmlsSource =
    new UmlsSource {
      private val splitKey = Map(
        "MRCONSO" -> "CUI", "MRREL" -> "CUI2", "MRDEF" -> "CUI",
        "MRSAT" -> "CUI")
      def table(name: String): DataFrame =
        splitKey.get(name.toUpperCase) match {
          case Some(key) if numPartitions > 1 =>
            val predicates = (0 until numPartitions)
              .map(i => split(key, numPartitions, i)).toArray
            spark.read.jdbc(url, name, predicates, props)
          case _ => spark.read.jdbc(url, name, props)
        }
    }

  /** Shared-scan source for many-small-SAB manifests: each FAT table
    * (MRCONSO/MRREL/MRDEF/MRSAT) is scanned ONCE, filtered to the union
    * of the manifest's SABs, and persisted; the export then filters the
    * cached frame instead of issuing N lake scans — with a 20-SAB
    * manifest the biggest tables are read once, not 20×, and the
    * export's `SAB IN (...)` predicates run against in-memory columnar
    * batches. MRCONSO/MRREL keep "SRC" (root detection reads the
    * `V-<sab>` atoms, `umls2rdf.py:612-614`) and "MSH" (tree-mode
    * edges) alongside the manifest SABs; every export predicate is a
    * subset of the union filter, so export inputs — and therefore
    * exported bytes — are identical to the direct source
    * (spec-asserted). Small metadata tables pass through uncached.
    *
    * MEMORY_AND_DISK: the union of SAB-pruned fat tables can exceed
    * executor memory at full-UMLS scale; spilled partitions still beat
    * re-scanning the lake. Call [[SharedScanSource.release]] after the
    * run. */
  def sharedScan(inner: UmlsSource, sabs: Seq[String]): SharedScanSource =
    new SharedScanSource(inner, sabs)

  final class SharedScanSource private[sources] (inner: UmlsSource,
      sabs: Seq[String]) extends UmlsSource {
    private val manifest = sabs.distinct
    private val withAux = (manifest ++ Seq("SRC", "MSH")).distinct
    private val fatSabs = Map(
      "MRCONSO" -> withAux, "MRREL" -> withAux,
      "MRDEF" -> manifest, "MRSAT" -> manifest)
    // Callers on several threads (the run's lookups) resolve tables
    // concurrently; computeIfAbsent guarantees one persist per table.
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
    def table(name: String): DataFrame = {
      val key = name.toUpperCase
      fatSabs.get(key) match {
        case Some(keep) =>
          cache.computeIfAbsent(key, _ =>
            inner.table(name).filter(col("SAB").isin(keep: _*))
              .persist(org.apache.spark.storage.StorageLevel
                .MEMORY_AND_DISK))
        case None => inner.table(name)
      }
    }
    /** Unpersist every cached table (idempotent). */
    def release(): Unit = {
      cache.values().forEach { df => df.unpersist(); () }
      cache.clear()
    }
  }

  /** In-memory fixture source for tests: supply DataFrames per table. */
  def fixed(tables: Map[String, DataFrame]): UmlsSource = new UmlsSource {
    def table(name: String): DataFrame = tables.getOrElse(name,
      throw new IllegalArgumentException(s"no fixture for $name"))
  }

  def schemaOf(name: String): StructType =
    UmlsSchemas.all.getOrElse(name.toUpperCase,
      throw new IllegalArgumentException(s"unknown UMLS table $name"))

  /** Build an empty DataFrame with a table's canonical schema. */
  def empty(spark: SparkSession, name: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schemaOf(name))
}

/** `umls.conf` manifest parser (S4, `umls2rdf.py:832-838,866-872`):
  * `SAB[;altUri],outFile,loadMode` per line, `#`-prefixed and empty lines
  * skipped. A driver-side job manifest, not data. */
object ConfManifest {
  def parse(lines: Iterator[String]): Seq[OntologyJob] =
    lines.filter(_.nonEmpty)
      .map(_.split(",").toSeq)
      .filter(parts => parts.nonEmpty && !parts.head.startsWith("#"))
      .map { parts =>
        val (sab, altUri) = parts.head.split(";", 2) match {
          case Array(s, a) => (s, Some(a))
          case Array(s) => (s, None)
        }
        OntologyJob(sab, altUri, parts(1).trim,
          loadOnCuis = parts(2).trim == "load_on_cuis")
      }.toSeq

  def parseFile(path: String): Seq[OntologyJob] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try parse(src.getLines()) finally src.close()
  }
}
