package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent digest of a multiset of rows: the row count and the
  * sum of crc32 over each row's fields joined with '|'. Dropping,
  * duplicating or altering any row changes it.
  *
  * The generators accumulate the expected digest row by row while they
  * write the inputs ([[Digest.Acc]]), from their own knowledge of the
  * join and normalization rules; [[Digest.of]] computes the same value
  * over a sink with one Spark aggregate. The output check therefore never
  * runs the pipeline code it checks. */
final case class Digest(rows: Long, crcSum: Long)

object Digest {

  final class Acc {
    private val crc = new CRC32
    private var rows = 0L
    private var sum = 0L

    def add(fields: Any*): Unit = {
      crc.reset()
      crc.update(fields.mkString("|").getBytes(UTF_8))
      sum += crc.getValue
      rows += 1
    }

    def result: Digest = Digest(rows, sum)
  }

  /** The digests of several frames, keyed by name, in one Spark job;
    * each field renders as Spark's string cast (a long prints as its
    * decimal digits, as in Scala). */
  def of(frames: (String, DataFrame, Seq[String])*): Map[String, Digest] = {
    val lines = frames.map { case (name, df, cols) =>
      df.select(lit(name).as("frame"),
        concat_ws("|", cols.map(c => col(c).cast("string")): _*).as("line"))
    }.reduce(_ union _)
    val got = lines.groupBy("frame")
      .agg(count(lit(1)), sum(crc32(col("line").cast("binary"))))
      .collect().map(r => r.getString(0) -> Digest(r.getLong(1), r.getLong(2))).toMap
    frames.map { case (name, _, _) => name -> got.getOrElse(name, Digest(0, 0)) }.toMap
  }
}
