package graft.operators

/** Greedy upload batching with BOTH caps of the reference's uploader
  * (reference: AzureSearchIndexer/BatchingUploader.cs:66-99): a batch
  * closes when it holds `maxCount` docs OR when adding the next doc
  * would push it past `maxBytes`; a doc individually larger than
  * `maxBytes` is skipped and counted (FailedTooLargeCount).
  *
  * Greedy batching is sequential by nature, so `batch_assign`
  * ([[IndexerOps.batchAssign]]) runs it once per count bucket, the
  * buckets in parallel — like the reference's `maxUploadThreads`
  * concurrent batch builders, each with its own batch buffer.
  */
object Batching {

  /** In-memory greedy batcher for a single uploader — the direct analog
    * of one UploadBatchesAsync loop; used per count bucket and in specs.
    */
  def greedy[T](docs: Iterator[(T, Long)], maxCount: Int, maxBytes: Long): (Vector[Vector[T]], Long) = {
    var tooLarge = 0L
    val batches = Vector.newBuilder[Vector[T]]
    var cur = Vector.newBuilder[T]; var count = 0; var bytes = 0L
    docs.foreach { case (doc, sz) =>
      if (sz > maxBytes) tooLarge += 1
      else {
        if (count >= maxCount || bytes + sz > maxBytes) {
          batches += cur.result(); cur = Vector.newBuilder[T]; count = 0; bytes = 0L
        }
        cur += doc; count += 1; bytes += sz
      }
    }
    val last = cur.result()
    if (last.nonEmpty) batches += last
    (batches.result(), tooLarge)
  }
}
