package graft.operators

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Planted checks for [[Relational.q73Cube]] and
  * [[Dedup.cmsPrefilterDups]].
  */
class CubePrefilterSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("cube: all four grouping combinations with correct flags") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_cube").toString
    // 2023-11-19 = Sunday (dow 0), 2023-11-20 = Monday (dow 1)
    val sun = Timestamp.valueOf("2023-11-19 10:00:00")
    val mon = Timestamp.valueOf("2023-11-20 10:00:00")
    Seq((1L, sun, 1L, "a", 1.00), (2L, sun, 1L, "a", 1.00),
      (3L, mon, 1L, "b", 2.00))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val out = Relational.q73Cube(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out(("a", 0L)) == ((0L, 0L, 2L, 200L)))
    assert(out(("b", 1L)) == ((0L, 0L, 1L, 200L)))
    assert(out(("a", -1L)) == ((0L, 1L, 2L, 200L)))
    assert(out(("b", -1L)) == ((0L, 1L, 1L, 200L)))
    assert(out(("(all)", 0L)) == ((1L, 0L, 2L, 200L)))
    assert(out(("(all)", 1L)) == ((1L, 0L, 1L, 200L)))
    assert(out(("(all)", -1L)) == ((1L, 1L, 3L, 400L)))
    assert(out.size == 7)
  }

  test("cms prefilter: duplicate chunks found, clean corpus empty") {
    import spark.implicits._
    def write(docs: Seq[(Long, String)]): String = {
      val dir = graft.util.Dirs.scratch("graft_cmsp").toString
      docs.toDF("doc_id", "text")
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      dir
    }
    // docs 1 and 2 share their first 240 chars → chunk 0 (chars
    // 0-199) is identical; chunk 1 (chars 150-349) diverges
    val boiler = ("x" * 120) + ("y" * 120)
    val d1 = write(Seq(
      (1L, boiler + " unique tail one that runs on for a while"),
      (2L, boiler + " completely different ending over here"),
      (3L, "z" * 200)))
    val out = Dedup.cmsPrefilterDups(spark, d1).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 1)
    assert(out.head._2 == 1L && out.head._3 == 0L && out.head._4 == 2L)
    // corpus with no duplicate chunks → empty result
    val d2 = write(Seq((1L, "a" * 200), (2L, "b" * 200)))
    assert(Dedup.cmsPrefilterDups(spark, d2).collect().isEmpty)
  }

  test("dedup cascade: exact copies counted beyond each keeper") {
    import spark.implicits._
    val dir = graft.util.Dirs.scratch("graft_casc").toString
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    // 3 exact copies (2 beyond the keeper) + 1 unrelated doc
    Seq((1L, text), (2L, text), (3L, text),
      (4L, (1 to 30).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = Dedup.dedupCascade(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("1_exact_dup_docs") == 2L)
    // identical docs are trivially near-dups and share every span
    assert(out("2_near_dup_pairs") == 3L) // C(3,2) pairs
    assert(out("3_shared_span_docs") == 3L)
  }
}
