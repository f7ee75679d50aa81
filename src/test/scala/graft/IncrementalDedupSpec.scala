package graft

import graft.operators.Dedup
import graft.sources.IndexStore
import org.apache.spark.sql.functions._

class IncrementalDedupSpec extends SparkSpec {

  test("incremental candidates match the batch LSH result, without re-hashing the corpus") {
    val root = tempDir("graft_bands").toString
    val store = new IndexStore(spark, root, "key")
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))

    // bootstrap: index the first half
    val half = 250L
    val first = docs.filter(col("doc_id") < half)
    val c0 = Dedup.incrementalCandidates(spark, first, store)
    assert(c0.count() == 0) // empty index → no candidates
    // the store holds the batch's bands as the snapshot pipeline builds them
    def bandRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, String)] =
      df.select("doc_id", "band", "sig").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band"), r.getAs[String]("sig"))).toSeq.sorted
    val snapshotBands = Dedup.lshBands(spark, sf)
    assert(bandRows(store.read().get).nonEmpty)
    assert(bandRows(store.read().get) == bandRows(snapshotBands.filter(col("doc_id") < half)))

    // second half arrives incrementally
    val second = docs.filter(col("doc_id") >= half)
    val inc = Dedup.incrementalCandidates(spark, second, store).collect()
      .map(r => (r.getAs[Long]("new_doc"), r.getAs[Long]("existing_doc"))).toSet

    // ground truth: full-batch candidate pairs that cross the halves
    val full = Dedup.candidatePairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    val crossing = full.filter { case (a, b) => (a < half) != (b < half) }
      .map { case (a, b) => if (a >= half) (a, b) else (b, a) }.toSet

    assert(inc == crossing, s"inc=$inc expected=$crossing")

    // the band index now covers both halves, with the snapshot's rows
    assert(store.read().get.select("doc_id").distinct().count() ==
      docs.filter(length(col("text")) > 0).count())
    assert(bandRows(store.read().get) == bandRows(snapshotBands))
  }
}
