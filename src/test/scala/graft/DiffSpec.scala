package graft

import graft.ops.Diff
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DiffSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def v1 = Seq(
    (1L, "a", Some(1.0)),  // unchanged
    (2L, "b", Some(2.0)),  // value changes
    (3L, "c", None),       // null -> value = changed
    (4L, "d", Some(4.0)),  // removed
    (5L, "e", None),       // null -> null = unchanged
  ).toDF("id", "kind", "v")

  private def v2 = Seq(
    (1L, "a", Some(1.0)),
    (2L, "b", Some(2.5)),
    (3L, "c", Some(3.0)),
    (5L, "e", None),
    (6L, "f", Some(6.0)),  // added
  ).toDF("id", "kind", "v")

  test("snapshotDiff classifies added/removed/changed/unchanged with null-safe compares") {
    val got = Diff.snapshotDiff(v1, v2, Seq("id"), Seq("kind", "v"))
      .select("id", "status").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "unchanged", 2L -> "changed", 3L -> "changed",
      4L -> "removed", 5L -> "unchanged", 6L -> "added"))
  }

  test("snapshotDiff carries old/new values; missing side is null") {
    val rows = Diff.snapshotDiff(v1, v2, Seq("id"), Seq("v"))
      .where(col("status").isin("added", "removed"))
      .select("id", "status", "old_v", "new_v")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)))).toSet
    assert(rows === Set(
      (4L, "removed", Some(4.0), None),
      (6L, "added", None, Some(6.0))))
  }

  test("snapshotDiff is partition-invariant") {
    def rows(a: DataFrame, b: DataFrame) =
      Diff.snapshotDiff(a, b, Seq("id"), Seq("kind", "v")).collect().toSet
    val want = rows(v1, v2)
    assert(want.size === 6)
    assert(rows(v1.repartition(7), v2.repartition(3)) === want)
  }

  test("composite keys join on all parts; no compare columns means presence-only diff") {
    val a = Seq((1L, "x", 10.0), (1L, "y", 11.0)).toDF("id", "sub", "v")
    val b = Seq((1L, "x", 10.0), (1L, "z", 12.0)).toDF("id", "sub", "v")
    val got = Diff.snapshotDiff(a, b, Seq("id", "sub"), Seq.empty)
      .select("id", "sub", "status")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set((1L, "x", "unchanged"), (1L, "y", "removed"),
      (1L, "z", "added")))
  }
}
