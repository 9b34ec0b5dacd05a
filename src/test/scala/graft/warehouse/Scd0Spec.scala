package graft.warehouse

import graft.SparkSpec

class Scd0Spec extends SparkSpec {
  import spark.implicits._

  private def df(keys: (String, Int)*) = keys.toSeq.toDF("k", "v")

  test("empty warehouse: everything inserts") {
    val stage = df("a" -> 1, "b" -> 2)
    val empty = stage.filter(org.apache.spark.sql.functions.lit(false))
    assert(Scd0.newRows(stage, empty, "k").count() === 2)
  }

  test("overlapping keys are not re-inserted; new keys are") {
    val wh = df("a" -> 1)
    val stage = df("a" -> 99, "b" -> 2)
    val delta = Scd0.newRows(stage, wh, "k").collect()
    assert(delta.map(_.getString(0)).toSet === Set("b"))
  }

  test("type-0: existing rows never update (replayed value ignored)") {
    val path = tmpDir("wh") + "/t"
    Scd0.mergeAppend(df("a" -> 1), path, "k")
    Scd0.mergeAppend(df("a" -> 42), path, "k") // same key, new value: dropped
    val rows = spark.read.parquet(path).as[(String, Int)].collect().toMap
    assert(rows === Map("a" -> 1))
  }

  test("in-batch duplicate keys collapse to one row") {
    val path = tmpDir("wh") + "/t"
    val n = Scd0.mergeAppend(df("a" -> 1, "a" -> 2, "b" -> 3), path, "k")
    assert(n === 2)
    assert(spark.read.parquet(path).count() === 2)
  }

  test("merge is idempotent: merge(merge(wh,b),b) == merge(wh,b)") {
    val path = tmpDir("wh") + "/t"
    val batch = df("a" -> 1, "b" -> 2, "c" -> 3)
    assert(Scd0.mergeAppend(batch, path, "k") === 3)
    assert(Scd0.mergeAppend(batch, path, "k") === 0)
    assert(spark.read.parquet(path).count() === 3)
  }

  test("an empty delta leaves the table's files untouched") {
    val path = tmpDir("wh") + "/t"
    assert(Scd0.mergeAppend(df(), path, "k") === 0) // empty stage: no table
    assert(!new java.io.File(path).exists())
    Scd0.mergeAppend(df("a" -> 1, "b" -> 2), path, "k")
    def files = new java.io.File(path).list().toSet
    val before = files
    assert(Scd0.mergeAppend(df("a" -> 1), path, "k") === 0) // replay: no new keys
    assert(files === before) // no zero-row file appended
  }

  test("a crashed merge's pending delta is discarded, never committed") {
    val path = tmpDir("wh") + "/t"
    Scd0.mergeAppend(df("a" -> 1), path, "k")
    // what a merge that died before its renames leaves behind
    df("z" -> 26).write.parquet(path + "._pending")
    assert(Scd0.mergeAppend(df("b" -> 2), path, "k") === 1)
    assert(spark.read.parquet(path).as[(String, Int)].collect().toMap === Map("a" -> 1, "b" -> 2))
    assert(!new java.io.File(path + "._pending").exists())
  }
}
