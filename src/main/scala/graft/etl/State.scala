package graft.etl

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.core.Fs

/** Incremental-extraction state store (reference `state.json` +
  * `API_manager.py:79-113`): a per-entity watermark with a full-backfill
  * sentinel and a monotone advance rule.
  *
  * The reference keeps a single JSON document `{Stock:{ticker→date},
  * Market:{exchange→date}}`; dynamic keys don't map to a declared schema,
  * so we store the same facts as a JSON-lines file of
  * `(kind, key, watermark)` objects, one line per tracked ticker or
  * exchange (SURVEY §2.9). That is a few KB even for a whole exchange, so
  * the store is read and rewritten on the driver — Hadoop FS API plus
  * Jackson, no Spark job. Each call re-reads the file, so every handle on
  * the same path sees the latest published state. The file stays readable
  * with `spark.read.json`.
  */
class StateStore(spark: SparkSession, path: String) {
  import StateStore._

  /** All watermarks by `(kind, key)`; empty if the store doesn't exist yet. */
  private def read(): Map[(String, String), String] =
    if (!Fs.exists(spark, path)) Map.empty
    else Fs.readString(spark, path).split('\n').iterator
      .filter(_.trim.nonEmpty).map(parse).toMap

  /** Watermark for one key; the missing-key sentinel triggers full backfill
    * (`API_manager.py:91`: "traer el dato mas antiguo disponible"). */
  def watermark(kind: String, key: String): String =
    read().getOrElse((kind, key), Sentinel)

  /** Monotone advance (`API_manager.py:104-106`: only move forward); a
    * stale or equal watermark leaves the file untouched. Call AFTER the
    * sink write succeeds — ordering is the at-least-once half of the
    * effectively-once contract (the SCD-0 anti-join is the idempotence
    * half). */
  def advance(kind: String, key: String, watermark: String): Unit = {
    val current = read()
    if (current.get((kind, key)).forall(watermark > _)) {
      val lines = current.updated((kind, key), watermark).toSeq.sortBy(_._1)
        .map { case ((k, n), w) =>
          s"""{"kind":${jstr(k)},"key":${jstr(n)},"watermark":${jstr(w)}}"""
        }.mkString("", "\n", "\n")
      // write-then-atomic-rename through the Hadoop FS API: state is never
      // observed half-written, on HDFS/S3A/local alike
      val tmp = path + ".tmp"
      Fs.writeString(spark, tmp, lines)
      Fs.renameOverwrite(spark, tmp, path)
    }
  }

  /** Reset (reference `reboot.py:21-24` / `API_manager.py:211-222`). */
  def reset(): Unit =
    Fs.delete(spark, path)
}

object StateStore {
  /** Full-backfill sentinel (`API_manager.py:77-78,91`), ISO-normalized. */
  val Sentinel = "1990-01-01"

  private val mapper = new ObjectMapper()

  private def parse(line: String): ((String, String), String) = {
    val o = mapper.readTree(line)
    ((o.get("kind").asText(), o.get("key").asText()), o.get("watermark").asText())
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
