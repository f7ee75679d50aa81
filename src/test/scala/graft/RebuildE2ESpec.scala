package graft

import graft.functions.Keys
import graft.sources.{DocumentSource, IndexStore}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Full rebuild flow against a real directory tree: recursive listing →
  * url-encode + key derivation → merge into the path index — the
  * RebuildPathsIndexAsync loop (reference: PathIndexClient.cs:99) on
  * actual files.
  */
class RebuildE2ESpec extends SparkSpec {

  test("rebuild path index from a real directory tree") {
    val lake = tempDir("graft_lake")
    Files.createDirectories(lake.resolve("fsA/data/part_1"))
    Files.createDirectories(lake.resolve("fsA/data/part_2"))
    Files.writeString(lake.resolve("fsA/data/part_1/f1.json"), """{"a":1}""")
    Files.writeString(lake.resolve("fsA/data/part_1/f2.json"), """{"a":2}""")
    Files.writeString(lake.resolve("fsA/data/part_2/f3.json"), """{"a":3}""")

    val idxDir = tempDir("graft_rebuild_idx").toString
    val store = new IndexStore(spark, idxDir, "key")

    val listing = DocumentSource.listFilesRecursive(spark, lake.toString)
    val prefix = lake.toString + "/"
    val pathIndex = listing
      .withColumn("rel", expr(s"substring(path, ${prefix.length + 1})"))
      .withColumn("filesystem", split(col("rel"), "/").getItem(0))
      .withColumn("relpath", expr("substring(rel, length(filesystem) + 2)"))
      .withColumn("pathUrlEncoded", Keys.pathUrlEncode(col("relpath")))
      .withColumn("key", Keys.pathKey(col("filesystem"), col("pathUrlEncoded")))
      .select(col("key"), col("filesystem"), col("pathUrlEncoded"), col("length"),
        date_format(col("modificationTime"), "yyyy-MM-dd HH:mm:ss").as("fileLastModified"))

    val r = store.mergeOrUpload(pathIndex)
    assert(r.created == 3 && r.modified == 0)

    val state = store.read().get.collect()
    assert(state.length == 3)
    // keys decode to filesystem%2fpath
    val decoded = state.map(row => new String(
      java.util.Base64.getDecoder.decode(row.getAs[String]("key")), "UTF-8")).sorted
    assert(decoded.sameElements(Array(
      "fsA%2fdata%2fpart_1%2ff1.json",
      "fsA%2fdata%2fpart_1%2ff2.json",
      "fsA%2fdata%2fpart_2%2ff3.json")))

    // a rebuild over the same tree is all-modified (idempotent contents)
    val r2 = store.mergeOrUpload(pathIndex)
    assert(r2.created == 0 && r2.modified == 3)
  }

  test("distributed listing walks a deep wide tree without a driver-side file list") {
    // 4 levels deep, branching 3 — 81 leaf dirs, 2 files each, plus a
    // file at every intermediate level: exercises multi-level frontier
    // iteration and empty-dir handling
    val lake = tempDir("graft_deep")
    var expected = 0
    def build(dir: java.nio.file.Path, depth: Int): Unit = {
      Files.writeString(dir.resolve(s"at_depth$depth.json"), s"""{"d":$depth}""")
      expected += 1
      if (depth < 4) (0 until 3).foreach { i =>
        val child = dir.resolve(s"d${depth}_$i")
        Files.createDirectories(child)
        build(child, depth + 1)
      }
    }
    build(lake, 0)
    Files.createDirectories(lake.resolve("empty/also_empty")) // no files

    val listing = DocumentSource.listFilesRecursive(spark, lake.toString)
    assert(listing.count() == expected)
    // depth-4 leaves present, every entry is a file path with its size
    val rows = listing.collect()
    assert(rows.forall(_.getAs[Long]("length") > 0))
    assert(rows.count(_.getAs[String]("path").contains("at_depth4")) == 81)
  }

  test("distributed listing matches the Hadoop recursive iterator on random trees") {
    val rnd = new scala.util.Random(7)
    val lake = tempDir("graft_rand")
    def build(dir: java.nio.file.Path, depth: Int): Unit = {
      (0 until rnd.nextInt(4)).foreach(i =>
        Files.write(dir.resolve(s"f${depth}_$i.bin"), Array.fill(rnd.nextInt(9) + 1)(1.toByte)))
      if (depth < 3) (0 until rnd.nextInt(3)).foreach { i =>
        val c = dir.resolve(s"d${depth}_$i"); Files.createDirectories(c); build(c, depth + 1)
      }
    }
    build(lake, 0)
    val dist = DocumentSource.listFilesRecursive(spark, lake.toString)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("length")).toMap
    // ground truth: the driver-side Hadoop recursive iterator
    val fs = new org.apache.hadoop.fs.Path(lake.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(lake.toString), true)
    val truth = scala.collection.mutable.Map[String, Long]()
    while (it.hasNext) { val st = it.next(); if (st.isFile) truth += st.getPath.toUri.getPath -> st.getLen }
    assert(dist == truth.toMap)
  }
}
