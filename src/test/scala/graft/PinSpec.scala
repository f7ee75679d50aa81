package graft

import java.io.File
import java.nio.file.Files

import graft.sources.{DocumentSource, IndexCache}
import org.apache.spark.sql.DataFrame

/** The one pinning primitive ([[IndexCache.Pin]]): every pin in the
  * engine goes through it, its reliable branch answers like its local
  * one, and a cluster with no checkpoint directory cannot pin at all.
  */
class PinSpec extends SparkSpec {

  private def files(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  private def rm(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete(): Unit
  }

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

  test("a non-local master with no checkpoint directory cannot pin") {
    val e = intercept[IllegalArgumentException](IndexCache.reliablePin(None, isLocal = false))
    assert(e.getMessage.contains("SparkContext.setCheckpointDir"))
    assert(IndexCache.reliablePin(Some("hdfs:///ck"), isLocal = false))
    assert(IndexCache.reliablePin(Some("/tmp/ck"), isLocal = true))
    assert(!IndexCache.reliablePin(None, isLocal = true))
  }

  test("reliable pins under a checkpoint directory give the local answers") {
    // one key per module that pins
    val keys = Seq("list_paths_delta", "search_score_bm25", "dedup_clusters", "ann_ivf",
      "graph_pagerank", "events_interval_join", "text_unigram_logprob", "rebuild_index",
      "stream_bitmap", "mm_phash_dedup")
    val lake = Files.createTempDirectory("graft_pin_lake")
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
    val ck = Files.createTempDirectory("graft_pin_ck")
    try {
      spark.sparkContext.setCheckpointDir(ck.toString)
      val reliable = answers()
      (keys :+ "listFilesRecursive").zip(local.zip(reliable)).foreach { case (k, (l, r)) =>
        assert(l.nonEmpty, k)
        assert(l == r, k)
      }
      val written = files(ck.toFile).filter(_.getParentFile.getName.startsWith("rdd-"))
      assert(written.nonEmpty)
    } finally {
      spark.sparkContext.setCheckpointDir(null)
      IndexCache.invalidate()
      rm(ck.toFile)
      rm(lake.toFile)
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }
}
