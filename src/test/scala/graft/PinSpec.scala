package graft

import java.io.File
import java.nio.file.Files

import graft.sources.{DocumentSource, IndexCache}
import graft.sources.IndexCache.Pin
import org.apache.spark.sql.DataFrame

/** The one pinning primitive ([[IndexCache.Pin]]) and the one layout
  * primitive ([[IndexCache.layout]], [[IndexCache.scratchDir]]): every
  * pin and every derived on-disk index of the engine goes through them,
  * their checkpoint-directory branch answers like the local one and
  * writes under that directory, and a cluster with no checkpoint
  * directory can neither pin nor place files. Parquet tables are read
  * through [[Tables.load]], whose schema cache spares a footer job per
  * read.
  */
class PinSpec extends SparkSpec {

  private def files(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  private def lines(f: File): Seq[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toList finally src.close()
  }

  test("src/main pins only through IndexCache.pin") {
    val sources = files(new File("src/main/scala")).filter(_.getName.endsWith(".scala"))
    assert(sources.size > 20)
    def pins(l: String) = l.contains("localCheckpoint") || l.contains(".checkpoint(")
    val (helper, rest) = sources.partition(_.getName == "IndexCache.scala")
    val stray = for {
      f <- rest
      (l, i) <- lines(f).zipWithIndex if pins(l)
    } yield s"${f.getPath}:${i + 1}: ${l.trim}"
    assert(stray.isEmpty, stray.mkString("\n"))
    val h = lines(helper.head)
    assert(h.count(_.contains(".localCheckpoint(")) == 1)
    assert(h.count(_.contains(".checkpoint(")) == 1)
  }

  test("src/main writes layouts and scratch roots only through IndexCache") {
    val sources = files(new File("src/main/scala")).filter(_.getName.endsWith(".scala"))
    assert(sources.size > 20)
    def placement(l: String) =
      l.contains(".write.mode(\"overwrite\")") || l.contains("\"/tmp") || l.contains("addShutdownHook")
    val stray = for {
      f <- sources if f.getName != "IndexCache.scala" && f.getName != "GenData.scala"
      (l, i) <- lines(f).zipWithIndex if placement(l)
    } yield s"${f.getPath}:${i + 1}: ${l.trim}"
    assert(stray.isEmpty, stray.mkString("\n"))
  }

  test("src/main reads parquet with its schema given, outside Tables and GenData") {
    val sources = files(new File("src/main/scala")).filter(_.getName.endsWith(".scala"))
    assert(sources.size > 20)
    // an inferring read runs a footer job per read; Tables.load caches it
    val stray = for {
      f <- sources if f.getName != "Tables.scala" && f.getName != "GenData.scala"
      (l, i) <- lines(f).zipWithIndex if l.contains(".read.parquet(") && !l.contains(".schema(")
    } yield s"${f.getPath}:${i + 1}: ${l.trim}"
    assert(stray.isEmpty, stray.mkString("\n"))
  }

  test("a non-local master with no checkpoint directory cannot pin") {
    val e = intercept[IllegalArgumentException](IndexCache.reliablePin(None, isLocal = false))
    assert(e.getMessage.contains("SparkContext.setCheckpointDir"))
    assert(IndexCache.reliablePin(Some("hdfs:///ck"), isLocal = false))
    assert(IndexCache.reliablePin(Some("/tmp/ck"), isLocal = true))
    assert(!IndexCache.reliablePin(None, isLocal = true))
  }

  test("a non-local master with no checkpoint directory gets no scratchDir") {
    val e = intercept[IllegalArgumentException](IndexCache.scratchBase(None, isLocal = false))
    assert(e.getMessage.contains("SparkContext.setCheckpointDir"))
    assert(IndexCache.scratchBase(Some("hdfs:///ck/1"), isLocal = false) == "hdfs:///ck/1")
    assert(IndexCache.scratchBase(None, isLocal = true) == "/tmp")
  }

  test("a reliable pin registers the checkpoint directory for deletion at JVM exit") {
    // a directory the spec does not delete itself: Spark never deletes
    // the checkpoint files of live RDDs, so only the pin's registration
    // removes them
    val parent = Files.createTempDirectory("graft_pin_exit")
    val sc = spark.sparkContext
    try {
      sc.setCheckpointDir(parent.toString)
      val ck = new org.apache.hadoop.fs.Path(sc.getCheckpointDir.get)
      val fs = ck.getFileSystem(sc.hadoopConfiguration)
      assert(spark.range(0, 10, 1, 2).toDF("n").pin().collect().length == 10)
      assert(files(new File(ck.toUri.getPath)).exists(_.getParentFile.getName.startsWith("rdd-")))
      assert(fs.cancelDeleteOnExit(ck), s"the pin left $ck to outlive the JVM")
      fs.deleteOnExit(ck)
      fs.deleteOnExit(new org.apache.hadoop.fs.Path(parent.toUri))
    } finally sc.setCheckpointDir(null)
    assert(sc.getCheckpointDir.isEmpty)
  }

  test("reliable pins under a checkpoint directory give the local answers") {
    // one key per module that pins, and every key that writes a layout
    // or a scratch store
    val keys = Seq("list_paths_delta", "search_score_bm25", "dedup_clusters", "ann_ivf",
      "graph_pagerank", "events_interval_join", "text_unigram_logprob", "rebuild_index",
      "stream_bitmap", "mm_phash_dedup", "ann_ivf_persisted", "search_bm25_persisted",
      "search_fuzzy", "search_phrase", "dedup_lookup_persisted", "layout_zorder",
      "layout_compaction")
    val families = Seq("graft_ivfindex", "graft_textindex", "graft_lshindex", "graft_layout",
      "graft_compact", "graft_bitmapstore")
    val lake = tempDir("graft_pin_lake")
    Seq("a/x.json", "a/b/y.json", "c/z.json").foreach { p =>
      val f = lake.resolve(p)
      Files.createDirectories(f.getParent)
      Files.writeString(f, p)
    }
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    def answers(): Seq[Seq[String]] = {
      IndexCache.invalidate()
      keys.map(k => rows(SparkEntry.queries(k)(spark, sf))) :+
        rows(DocumentSource.listFilesRecursive(spark, lake.toString).select("path", "length"))
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val local = answers()
    // each family's per-app root, as the context currently places it
    def roots() = families.map(f => new File(IndexCache.scratchPath(spark, f, "d").getParent.toUri.getPath))
    // the local leg's files under /tmp/<family>/<appId>, with their times
    val tmpRoots = roots()
    def tmpLayouts() = tmpRoots.flatMap(files).map(f => f.getPath -> f.lastModified()).sorted
    val before = tmpLayouts()
    assert(before.nonEmpty)
    val ck = tempDir("graft_pin_ck")
    try {
      spark.sparkContext.setCheckpointDir(ck.toString)
      val reliable = answers()
      (keys :+ "listFilesRecursive").zip(local.zip(reliable)).foreach { case (k, (l, r)) =>
        assert(l.nonEmpty, k)
        assert(l == r, k)
      }
      val written = files(ck.toFile).filter(_.getParentFile.getName.startsWith("rdd-"))
      assert(written.nonEmpty)
      val ckPath = ck.toFile.getCanonicalPath
      roots().foreach { r =>
        assert(r.getCanonicalPath.startsWith(ckPath), r)
        assert(files(r).nonEmpty, r)
      }
      assert(tmpLayouts() == before, "a layout was written under /tmp with a checkpoint directory set")
    } finally {
      spark.sparkContext.setCheckpointDir(null)
      IndexCache.invalidate()
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }
}
