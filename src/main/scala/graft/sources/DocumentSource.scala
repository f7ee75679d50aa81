package graft.sources

import graft.sources.IndexCache.Pin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Document readers for the lake-side of the pipeline — the Spark
  * analog of the reference's file reads + JSON deserialization
  * (reference: AzureSearchIndexer/DataLakeIndexer.cs:95 ReadAsync +
  * DatalakePathIndexerFunc/IndexMapper.cs:14 DeserializeAsync).
  *
  * On a cluster these are the entry scans for 100 TB: schema is always
  * supplied explicitly (never inferred — inference is a full extra
  * pass), bad records are tolerated not fatal (PERMISSIVE +
  * `_corrupt_record`, mirroring the reference counting read failures
  * instead of aborting the run).
  */
object DocumentSource {

  /** Read a directory of JSON documents with explicit schema; corrupt
    * records land in `_corrupt_record` instead of failing the job.
    */
  def json(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** Split a JSON read into (good, failed) — the ReadDocumentsMetrics
    * split (reference: Models/ReadDocumentsMetrics.cs).
    *
    * The scan runs ONCE (cached for the two filters, Spark also
    * requires a cache to filter on the corrupt-record column); both
    * halves are eagerly materialized and the scratch cache released —
    * nothing for the caller to unpersist. The split inherently costs a
    * materialization: the failed side must be complete before "good"
    * counts mean anything.
    */
  def jsonWithMetrics(spark: SparkSession, path: String, schema: StructType): (DataFrame, DataFrame) = {
    val df = json(spark, path, schema).cache()
    try {
      (df.filter(col("_corrupt_record").isNull).drop("_corrupt_record").pin(),
        df.filter(col("_corrupt_record").isNotNull).select(col("_corrupt_record")).pin())
    } finally { df.unpersist(); () }
  }

  /** Opaque binary reads (images/audio/any payload) with file metadata —
    * the multimodal entry point.
    */
  def binaryFiles(spark: SparkSession, path: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(path)
      .select(col("path"), col("modificationTime"), col("length"), col("content"))

  /** Distributed recursive lake listing → DataFrame(path, length,
    * modificationTime) — the rebuild entry point (reference:
    * PathIndexClient.RebuildPathsIndexAsync consumes
    * ListPathsParallelAsync's recursive listing,
    * DataLakePathClientExtension.cs:24-50: a frontier of directories
    * drained by up-to-256 concurrent one-level listings).
    *
    * Same design, Spark-shaped: each level distributes the directory
    * frontier across executors, every executor lists its directories
    * one level deep, FILE entries stay on the executors (eagerly
    * materialized per level), and only the next level's DIRECTORY names
    * return to the driver — the driver holds the frontier (as the
    * reference does), never the file list. A billion-file lake with a
    * few thousand directories per level works; the round-2 driver-side
    * `fs.listFiles(recursive=true)` walk would OOM the driver.
    */
  def listFilesRecursive(spark: SparkSession, root: String, maxParallelLists: Int = 256): DataFrame = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    // Hadoop Configuration is not Serializable: ship the flattened
    // entries (defaults included — Configuration.iterator() walks the
    // merged view) and rebuild per executor partition
    val confEntries: Array[(String, String)] = {
      import scala.jdk.CollectionConverters._
      spark.sparkContext.hadoopConfiguration.iterator().asScala
        .map(e => (e.getKey, e.getValue)).toArray
    }

    val empty = spark.emptyDataset[(String, Long, Long)]
      .toDF("path", "length", "mtime_ms")
    var result = empty
    var frontier: Seq[String] = Seq(root)
    var depth = 0
    while (frontier.nonEmpty && depth < 1000) {
      val slices = math.max(1, math.min(maxParallelLists, frontier.size))
      val listed = spark.createDataset(frontier).repartition(slices)
        .mapPartitions { dirs =>
          val conf = new org.apache.hadoop.conf.Configuration(false)
          confEntries.foreach { case (k, v) => conf.set(k, v) }
          dirs.flatMap { d =>
            val p = new Path(d)
            p.getFileSystem(conf).listStatus(p).iterator.map(st =>
              // frontier entries keep the FULL URI (scheme + authority):
              // stripping to the bare path would re-resolve level-2+
              // listings against fs.defaultFS instead of the root's
              // store (s3a://, abfs://…). Only the emitted file rows
              // drop to the bare path (the path-model keying input).
              (st.getPath.toString, st.getPath.toUri.getPath,
                st.isDirectory, st.getLen, st.getModificationTime))
          }
        }
        .toDF("uri", "path", "is_dir", "length", "mtime_ms")
        .persist()
      // only directory NAMES come back; this action also materializes the
      // persisted level so files are never re-listed
      val (dirs, files) = try (
        listed.filter(col("is_dir")).select(col("uri")).as[String].collect().toSeq,
        listed.filter(!col("is_dir")).select(col("path"), col("length"), col("mtime_ms"))
          .pin() // release the scratch cache
      ) finally listed.unpersist()
      result = result.unionByName(files)
      frontier = dirs
      depth += 1
    }
    // the depth bound is a runaway guard (symlink cycles, pathological
    // trees), not a truncation policy: a non-empty frontier here means
    // the listing would be silently incomplete — fail loudly instead
    require(frontier.isEmpty,
      s"listFilesRecursive exceeded $depth levels with ${frontier.size} directories unlisted " +
        s"(first: ${frontier.head}); raise the depth bound or break the cycle")
    result
      .withColumn("modificationTime", timestamp_millis(col("mtime_ms")))
      .drop("mtime_ms")
  }
}
