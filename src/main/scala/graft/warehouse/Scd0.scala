package graft.warehouse

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Fs

/** Two-tier warehouse (reference `DB_manager.py` + `main.py:40-46`):
  * `stage` = truncate-and-load full refresh, `datawarehouse` = append-only
  * with an SCD type-0 merge — insert only keys not already present
  * ("datos estaticos", `DB_manager.py:139`), which is what makes replays
  * idempotent and turns the at-least-once extractor into effectively-once.
  */
object Scd0 {

  /** The merge kernel (`DB_manager.py:142-177`): `stage LEFT JOIN wh ON pk
    * WHERE wh.pk IS NULL` ≡ left_anti. In-batch duplicates are collapsed to
    * the first row per key — the reference delegates that to the Postgres
    * PK; we enforce it behaviorally (SURVEY §1.2). Catalyst picks
    * broadcast-anti when the key side is small, sort-merge-anti otherwise;
    * at 100 TB only (key) columns cross the exchange, never full rows. */
  def newRows(stage: DataFrame, warehouse: DataFrame, key: String): DataFrame =
    stage.dropDuplicates(key)
      .join(warehouse.select(key), Seq(key), "left_anti")

  /** Merge + append in one call; returns number of inserted rows.
    *
    * One query: the delta is written to the sibling directory
    * `<warehousePath>._pending` while an observation counts its rows, then
    * a non-empty delta's data files are renamed into the table. An empty
    * delta leaves the table untouched (a direct append would still add a
    * zero-row file). Readers list only the table directory, so they never
    * see pending files. A crash between renames leaves part of the delta
    * in the table; the retry's anti-join skips exactly those keys, so the
    * merge stays effectively-once. */
  def mergeAppend(stage: DataFrame, warehousePath: String, key: String): Long = {
    val spark = stage.sparkSession
    val pending = warehousePath + "._pending"
    Fs.delete(spark, pending) // a crashed merge's uncommitted delta
    val inserted = Observation()
    newRows(stage, existingKeys(warehousePath, stage, key), key)
      .observe(inserted, count(lit(1)).as("n"))
      .write.parquet(pending)
    val n = inserted.get("n").asInstanceOf[Long]
    if (n > 0) {
      val fs = Fs.fileSystem(spark, warehousePath)
      val table = new Path(warehousePath)
      fs.mkdirs(table)
      fs.listStatus(new Path(pending)).map(_.getPath)
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .foreach { f =>
          if (!fs.rename(f, new Path(table, f.getName)))
            throw new java.io.IOException(s"could not move $f into $warehousePath")
        }
    }
    Fs.delete(spark, pending)
    n
  }

  /** Stage load = full refresh (`DB_manager.py:107-136`: TRUNCATE + append
    * ≡ overwrite). */
  def stageLoad(df: DataFrame, stagePath: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(stagePath)

  /** The warehouse's key column, read with the stage's declared key type
    * (SCD-0 appends stage rows, so the two agree): no schema-inference job,
    * and the scan touches one column. Empty when the warehouse doesn't
    * exist yet. */
  private def existingKeys(path: String, stage: DataFrame, key: String): DataFrame =
    if (Fs.exists(stage.sparkSession, path))
      stage.sparkSession.read.schema(StructType(Seq(stage.schema(key)))).parquet(path)
    else stage.select(key).filter(lit(false))
}
