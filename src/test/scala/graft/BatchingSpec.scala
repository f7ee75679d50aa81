package graft

import graft.operators.Batching

/** Mirrors the reference's own test suite behaviors
  * (reference: AzureSearchIndexerTests/BatchingUploaderTests.cs,
  * PathIndexClientTests.cs) against the Spark-side batcher.
  */
class BatchingSpec extends SparkSpec {

  private def docs(n: Int, size: Long = 10L): Iterator[(Int, Long)] =
    Iterator.tabulate(n)(i => (i, size))

  test("3 docs, batch count 2 -> 2 batches (TestBatchingUploader)") {
    val (batches, tooLarge) = Batching.greedy(docs(3), maxCount = 2, maxBytes = 1000L)
    assert(batches.length == 2 && tooLarge == 0)
    assert(batches.map(_.length) == Vector(2, 1))
    assert(batches.flatten.length == 3) // ProcessedCount
  }

  test("4 docs, batch count 2 -> 2 even batches (TestBatchingUploaderEvenBatches)") {
    val (batches, _) = Batching.greedy(docs(4), maxCount = 2, maxBytes = 1000L)
    assert(batches.map(_.length) == Vector(2, 2))
  }

  test("1 doc -> 1 batch (TestBatchingUploaderLessThanBatch)") {
    val (batches, _) = Batching.greedy(docs(1), maxCount = 2, maxBytes = 1000L)
    assert(batches.map(_.length) == Vector(1))
  }

  test("byte cap just above one doc -> one batch per doc (TestBatchingUploaderBatchSizeBytes)") {
    // reference: maxBatchSizeBytes = size(doc) + 1 ⇒ no two docs fit together
    val (batches, _) = Batching.greedy(docs(4, size = 10L), maxCount = 2, maxBytes = 11L)
    assert(batches.map(_.length) == Vector(1, 1, 1, 1))
  }

  test("doc bigger than byte cap is skipped and counted") {
    val mixed = Iterator((1, 5L), (2, 100L), (3, 5L))
    val (batches, tooLarge) = Batching.greedy(mixed, maxCount = 10, maxBytes = 20L)
    assert(tooLarge == 1)
    assert(batches.flatten == Vector(1, 3))
  }

  test("rebuild batching: 1000 paths -> 1 batch, 1001 -> 2 (TestPathIndexRebuild*)") {
    val (one, _) = Batching.greedy(docs(1000, 1L), maxCount = 1000, maxBytes = Long.MaxValue)
    assert(one.length == 1)
    val (two, _) = Batching.greedy(docs(1001, 1L), maxCount = 1000, maxBytes = Long.MaxValue)
    assert(two.length == 2 && two.map(_.length) == Vector(1000, 1))
    val (none, _) = Batching.greedy(docs(0), maxCount = 1000, maxBytes = Long.MaxValue)
    assert(none.isEmpty) // TestEmptyPathsResult: terminates, 0 created
  }

  test("batch_assign sizes docs by serialized JSON bytes and the bytes cap binds") {
    val rows = graft.operators.IndexerOps.batchAssign(spark, sf).collect()
    val real = rows.filter(_.getAs[Long]("batch_id") >= 0)
    assert(real.forall(_.getAs[Long]("n_docs") <= 100L), "count cap")
    val keptDocs = real.map(_.getAs[Long]("n_docs")).sum
    val countOnlyBatches = math.ceil(keptDocs.toDouble / 100).toLong
    // more batches than the count cap alone would produce ⇒ the bytes
    // cap split at least one count-capped run
    assert(real.length > countOnlyBatches,
      s"bytes cap never bound: ${real.length} batches for $keptDocs docs")
    // greedy flush-before-exceed (the reference BatchingUploader
    // semantics): NO batch ever exceeds the byte cap — the doc that
    // would cross it starts the next batch
    assert(real.forall(_.getAs[Long]("total_bytes") <= graft.operators.IndexerOps.MaxBatchBytes),
      "a batch exceeded MaxBatchBytes: flush-before-exceed violated")
  }
}
