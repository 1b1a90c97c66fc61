package graft.plans

import java.nio.charset.StandardCharsets

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** S6 — JSONL batch-file packing under three simultaneous limits
  * (reference `core/src/core/utils/batch_jsonl_file_writer.py:104-190`,
  * `core/src/core/models/jsonl_batch_file.py:68-104`; limits
  * BASELINE.md: ≤50k requests, ≤max tokens, ≤190 MB per file).
  *
  * Reference semantics, kept exactly: lines are appended greedily in
  * order; a line that would push the current file past ANY limit closes
  * the file and opens the next (the line is never split). The counters
  * reset per file, which makes packing a sequential fold — so the Spark
  * form is `sortWithinPartitions` + `mapPartitions`, with file ids
  * namespaced by partition (`<partition>-<seq>`). One partition per
  * API-key stream reproduces the reference's single-writer behavior;
  * many partitions pack in parallel for cluster-scale runs.
  *
  * Divergence (documented): a single line larger than a limit would
  * retry forever in the reference; here it is emitted alone in its own
  * file.
  */
object Packer {

  final case class PackLimits(maxRequests: Long, maxTokens: Long, maxBytes: Long)

  /** Station defaults (reference `batch_file_station.py:57-60`). */
  val StationLimits: PackLimits =
    PackLimits(maxRequests = 50000, maxTokens = 20000000L, maxBytes = 190L * 1024 * 1024)

  private def lineBytes(line: String): Long =
    line.getBytes(StandardCharsets.UTF_8).length.toLong + 1 // trailing \n

  /** Assign a `file_id` to every row. Requires columns `lineCol`
    * (the serialized JSONL line) and `tokensCol` (input token count).
    * Rows are packed in the order they arrive within each partition —
    * callers choose ordering (e.g. smallest-documents-first, reference
    * `batch_file_generator.py:236-241`) and partitioning before calling.
    */
  def pack(df: DataFrame, limits: PackLimits,
      lineCol: String = "body_json", tokensCol: String = "input_tokens"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField("file_id", StringType))
    val lineIdx = df.schema.fieldIndex(lineCol)
    val tokIdx = df.schema.fieldIndex(tokensCol)
    val (maxReq, maxTok, maxBytes) = (limits.maxRequests, limits.maxTokens, limits.maxBytes)
    df.mapPartitions { rows =>
      val pid = TaskContext.getPartitionId()
      var fileSeq = 0
      var nReq = 0L
      var nTok = 0L
      var nBytes = 0L
      rows.map { row =>
        val tok = row.get(tokIdx) match {
          case null => 0L
          case n: Number => n.longValue()
        }
        val bytes = lineBytes(row.getString(lineIdx))
        val wouldExceed =
          nReq + 1 > maxReq || nTok + tok > maxTok || nBytes + bytes > maxBytes
        if (wouldExceed && nReq > 0) {
          fileSeq += 1; nReq = 0; nTok = 0; nBytes = 0
        }
        nReq += 1; nTok += tok; nBytes += bytes
        Row.fromSeq(row.toSeq :+ s"$pid-$fileSeq")
      }
    }(Encoders.row(outSchema))
  }
}
