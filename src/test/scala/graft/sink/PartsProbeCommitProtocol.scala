package graft.sink

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.JobContext
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

/** Spark's default SQL commit protocol plus a test probe on the export's
  * parts. A write job whose output path lies under a directory handed to
  * [[PartsProbe.record]] or [[PartsProbe.corrupt]] commits as usual, and
  * then the probe either records the row count of every committed part,
  * or overwrites every part with bytes that are not parquet, so that the
  * driver's merge fails on them. Writes anywhere else commit untouched,
  * so installing it (`spark.sql.sources.commitProtocolClass`) on the
  * shared test session cannot disturb concurrently running suites. */
class PartsProbeCommitProtocol(jobId: String, path: String,
    dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path,
      dynamicPartitionOverwrite) {

  override def commitJob(jobContext: JobContext,
      taskCommits: Seq[TaskCommitMessage]): Unit = {
    super.commitJob(jobContext, taskCommits)
    PartsProbe.committed(path, jobContext.getConfiguration)
  }
}

object PartsProbe {

  val ProtocolConf = "spark.sql.sources.commitProtocolClass"
  val ProtocolClass: String = classOf[PartsProbeCommitProtocol].getName

  private sealed trait Mode
  private case object Record extends Mode
  private case object Corrupt extends Mode

  private val watched = new ConcurrentHashMap[String, Mode]()
  private val counts = new ConcurrentHashMap[String, Seq[Long]]()

  /** Record the part row counts of writes under `dir`. */
  def record(dir: String): Unit = { watched.put(dir, Record); () }

  /** Make every part written under `dir` unreadable. */
  def corrupt(dir: String): Unit = { watched.put(dir, Corrupt); () }

  /** The row count of each part of the last write under `dir`. */
  def partRows(dir: String): Seq[Long] = counts.getOrDefault(dir, Nil)

  def forget(dir: String): Unit = { watched.remove(dir); counts.remove(dir); () }

  private[sink] def committed(path: String,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val local = new Path(path).toUri.getPath
    watched.forEach { (dir, mode) =>
      if (local.startsWith(dir)) {
        val parts = new java.io.File(local).listFiles()
          .filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq
        mode match {
          case Record =>
            counts.put(dir, parts.map { f =>
              val r = ParquetFileReader.open(
                HadoopInputFile.fromPath(new Path(f.toURI), conf))
              try r.getRecordCount finally r.close()
            })
          case Corrupt =>
            parts.foreach(f => Files.write(f.toPath,
              "not a parquet file".getBytes(StandardCharsets.UTF_8)))
        }
      }
    }
  }
}
