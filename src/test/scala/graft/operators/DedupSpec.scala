package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Pins the label-propagation convergence probe at extreme id
  * magnitude (r14 verdict advisory): the r13 probe summed cluster_id
  * and tested the sum for a fixpoint, which can alias under Long wrap
  * once Σid exceeds 2^63 — here Σid ≈ 5·Long.MaxValue, so ANY
  * sum-based probe arithmetic necessarily wraps, while the shipped
  * changed-label count stays exact (it never adds ids). The planted
  * chain also needs > 1 propagation round, proving the probe doesn't
  * stop early at the magnitude where the old one could.
  */
class DedupSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("labelPropagate: exact convergence at Long.MaxValue-scale ids") {
    import spark.implicits._
    val M = Long.MaxValue
    // chain M-9 ~ M-7 ~ M-5 ~ M-3 ~ M-1 (diameter 4: several rounds)
    // plus the isolated doc M-8; component min must flood the chain.
    val ids = Seq(M - 9, M - 7, M - 5, M - 3, M - 1, M - 8)
    val chain = ids.init.sliding(2).map { case Seq(x, y) => (x, y) }.toSeq
    val edges = chain.toDF("a", "b")
      .union(chain.map(_.swap).toDF("a", "b"))
    val labels0 = ids.map(i => (i, i)).toDF("doc_id", "cluster_id")
    val out = Dedup.labelPropagate(spark, edges, labels0)
      .as[(Long, Long)].collect().toMap
    ids.init.foreach { i =>
      assert(out(i) == M - 9, s"chain member $i not flooded to min")
    }
    assert(out(M - 8) == M - 8, "isolated doc must keep its own label")
    // the probe terminated (we got here) and labels are the true
    // fixpoint: one more propagation round changes nothing
    val again = Dedup.labelPropagate(spark, edges,
      out.toSeq.toDF("doc_id", "cluster_id")).as[(Long, Long)]
      .collect().toMap
    assert(again == out, "claimed fixpoint is not a fixpoint")
  }

  test("labelPropagate: onTruncated fires when maxRounds cuts the " +
      "flood short (the CC non-convergence probe, r15 advice)") {
    import spark.implicits._
    // the same diameter-4 chain: 1 round cannot flood it
    val ids = Seq(1L, 3L, 5L, 7L, 9L)
    val chain = ids.sliding(2).map { case Seq(x, y) => (x, y) }.toSeq
    val edges = chain.toDF("a", "b")
      .union(chain.map(_.swap).toDF("a", "b"))
    val labels0 = ids.map(i => (i, i)).toDF("doc_id", "cluster_id")
    var truncatedAt = -1
    Dedup.labelPropagate(spark, edges, labels0, maxRounds = 1,
      onTruncated = truncatedAt = _).collect()
    assert(truncatedAt == 1, "1-round cap on a diameter-4 chain must " +
      s"report truncation (got $truncatedAt)")
    // and a cap ABOVE the diameter must stay silent
    truncatedAt = -1
    Dedup.labelPropagate(spark, edges, labels0, maxRounds = 10,
      onTruncated = truncatedAt = _).collect()
    assert(truncatedAt == -1, "converged flood must not report " +
      "truncation")
  }
}
