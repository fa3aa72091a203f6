package graft

import graft.operators.IncrementalDedup
import org.apache.spark.sql.functions._

/** Round-6 additions: incremental dedup's two-snapshot ≡ from-scratch
  * contract, checked on the real fixture AND on an adversarial synthetic
  * that forces the two state transitions fixture luck could miss —
  * winner REVOCATION (a new exact twin with a smaller id beats a stored
  * winner) and cluster MERGE (a new doc bridges two previously-separate
  * old docs, so a doc kept in snapshot 1 must be dropped in snapshot 2).
  */
class Round6Spec extends SparkSuite {

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  test("incremental dedup equals from-scratch rebuild on the corpus split") {
    val docs = Tables.documents(spark, sfDir)
    val old = docs.filter(length(col("source")) <= 4)
    val nw = docs.filter(length(col("source")) > 4)
    val inc = ids(IncrementalDedup.incrementalSurvivors(old, nw, 0.8))
    val scratch = ids(IncrementalDedup.scratchSurvivors(docs, 0.8))
    assert(inc == scratch)
    assert(inc.nonEmpty && inc.size < docs.count())
  }

  /** (old, new) snapshots: sliding 12-token windows over a 14-token
    * vocabulary give J(1,2) = J(2,3) = 9/11 ≈ 0.82 ≥ 0.8 but J(1,3) = 8/12
    * ≈ 0.67 < 0.8 — doc 2 BRIDGES two old docs that round 1 correctly
    * kept separate; doc 5 is an exact twin of doc 10 with a smaller id.
    */
  private def adversarial = {
    import spark.implicits._
    def win(from: Int): String = (from until from + 12).map(i => s"w$i").mkString(" ")
    val exactText = "completely different text entirely about something else"
    val old = Seq(
      (1L, win(1), "src0"),
      (3L, win(3), "src1"),
      (10L, exactText, "src2")).toDF("doc_id", "text", "source")
    val nw = Seq(
      (2L, win(2), "src10"),   // merges clusters {1} and {3} → drop 2 AND 3
      (5L, exactText, "src11") // exact twin, smaller id → REVOKES winner 10
    ).toDF("doc_id", "text", "source")
    (old, nw)
  }

  test("incremental dedup: revocation and cluster-merge transitions") {
    val (old, nw) = adversarial
    val inc = ids(IncrementalDedup.incrementalSurvivors(old, nw, 0.8))
    val scratch = ids(IncrementalDedup.scratchSurvivors(old.unionByName(nw), 0.8))
    assert(scratch == Set(1L, 5L))
    assert(inc == scratch)
  }

  test("incremental dedup: 1, 2 and 3 ingests from an empty state equal the rebuild") {
    val (old, nw) = adversarial
    val scratch = ids(IncrementalDedup.scratchSurvivors(old.unionByName(nw), 0.8))
    assert(scratch == Set(1L, 5L))
    val splits = Seq(
      Seq(old.unionByName(nw)),
      Seq(old, nw),
      // the merge lands in the second ingest, the revocation in the third
      Seq(old, nw.filter(col("doc_id") === 2L), nw.filter(col("doc_id") === 5L)))
    splits.foreach { snapshots =>
      val inc = ids(IncrementalDedup.snapshotSurvivors(snapshots, 0.8))
      assert(inc == scratch, s"${snapshots.size} ingest(s): $inc != $scratch")
    }
  }
}
