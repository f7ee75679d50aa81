package graft

import graft.operators.Search
import graft.sources.IndexStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The base-plus-delta layout of [[IndexStore]]: a live version is a
  * base plus one cumulative delta, a read of it is one scan, a merge
  * past the fold fraction writes a full base again, and `compact` never
  * deletes files a kept version reads.
  */
class IndexStoreDeltaSpec extends SparkSpec {
  import spark.implicits._

  private def rowsOf(df: DataFrame): Seq[(String, Long, String)] =
    df.select(col("key"), col("n"), col("fs")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq

  /** Rows in the files of `v=N` alone. */
  private def filesOf(root: String, v: Long): Long = spark.read.parquet(s"$root/v=$v").count()

  private def keyed(range: Range, n: Long) =
    range.map(i => (f"k$i%05d", n, s"fs${i % 3}")).toDF("key", "n", "fs")

  // The same merges, each followed by optimize(): the twin's live
  // version is a full snapshot (a base) after every step.
  private def merges(store: IndexStore, fullSnapshots: Boolean): Unit = {
    def step(f: => Any): Unit = { f; if (fullSnapshots) { store.optimize(); () } }
    step(store.mergeOrUpload(keyed(0 until 1000, 0L)))
    // upserts of base keys and new keys, a tombstone of a base key, and
    // a key deleted here and re-created by the next merge
    step(store.mergeOrUpload(
      (keyed(990 until 1020, 1L).withColumn("gone", lit(false)) unionByName
        Seq(("k00007", 0L, "fs1", true), ("k00400", 0L, "fs1", true)).toDF("key", "n", "fs", "gone")),
      tombstone = Some("gone")))
    step(store.mergeOrUpload(Seq(("k00400", 2L, "fs2"), ("k00500", 2L, "fs2")).toDF("key", "n", "fs")))
  }

  test("a delta read is one scan: one job a page, no exchange, the full snapshot's rows") {
    val root = tempDir("graft_delta_read").toString
    val store = new IndexStore(spark, root, "key", partitionCol = Some("fs"))
    merges(store, fullSnapshots = false)
    val twin = new IndexStore(spark, tempDir("graft_delta_twin").toString, "key", partitionCol = Some("fs"))
    merges(twin, fullSnapshots = true)

    // the live version is a base plus a delta: v=N's files hold the 32
    // rows upserted since the base, not the 1,019 live ones
    val v = store.currentVersion.get
    assert(v == 2L)
    assert(filesOf(root, v) == 32L)
    val live = store.read().get
    val expected = rowsOf(twin.read().get.orderBy(col("key")))
    assert(expected.size == 1019)
    assert(!expected.exists(_._1 == "k00007"))
    assert(expected.contains(("k00400", 2L, "fs2")) && expected.contains(("k00995", 1L, "fs2")))

    var pages = Seq.empty[Seq[Row]]
    val jobs = jobsDuring { pages = Search.pagedByKey(live, "key", 100).toSeq }
    assert(pages.size == 11)
    // a fetch holds ten pages: one full fetch, then one of 19 rows
    val fetch = 100 * Search.FetchPages
    assert(jobs.size == 2, s"${jobs.size} jobs for ${pages.size} pages: $jobs")
    assert(pages.flatten.map(r => (r.getAs[String]("key"), r.getAs[Long]("n"), r.getAs[String]("fs")))
      == expected)

    // each fetch's own plan: one scan of the base's and the delta's files
    // under one top-k, with no exchange of any kind and no join
    Seq(None, Some(pages.flatten.apply(fetch - 1).getAs[String]("key"))).foreach { last =>
      val page = last.fold(live)(k => live.filter(col("key") > k)).orderBy(col("key")).limit(fetch)
      val plan = page.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange") && !plan.contains("Join"), s"fetch after $last:\n$plan")
      assert(plan.split("FileScan").length == 2, s"fetch after $last is not one scan:\n$plan")
      assert(plan.contains("NOT IN <"), s"fetch after $last reads no delta:\n$plan")
    }
  }

  test("a merge past the fold fraction writes a full base; compact keeps the files a kept version reads") {
    val root = tempDir("graft_delta_fold").toString
    def fresh = new IndexStore(spark, root, "key", partitionCol = Some("fs"))
    val store = fresh
    def live(s: IndexStore) = rowsOf(s.read().get).sorted
    store.mergeOrUpload(keyed(0 until 16, 0L))
    // 16 base rows: a delta of up to 16 / FoldDenominator = 2 keys is kept
    assert(IndexStore.FoldDenominator == 8)
    store.mergeOrUpload(keyed(16 until 19, 1L))
    assert(filesOf(root, 1L) == 3L)
    // the delta's 3 keys pass the fraction: this merge writes a base
    // whose files hold every live row
    store.mergeOrUpload(keyed(19 until 20, 2L))
    assert(store.currentVersion.contains(2L))
    assert(filesOf(root, 2L) == 20L)
    assert(live(store) == live(fresh) && live(store).size == 20)

    // a delta on the new base, then compact: v=2's marker goes but its
    // files stay, since v=3 reads them
    store.mergeOrUpload(Seq(("k00003", 3L, "fs0")).toDF("key", "n", "fs"))
    val before = live(store)
    assert(store.compact(keepLast = 1) == 3)
    assert(live(fresh) == before && live(store) == before)
    val dirs = new java.io.File(root).list().sorted.toSeq
    assert(dirs == Seq("v=2", "v=3"), dirs)
    assert(!new java.io.File(s"$root/v=2/_graft_commit").exists())
    assert(fresh.currentVersion.contains(3L))

    // once no kept version reads the old base, compact deletes it
    (0 until 3).foreach(i => store.mergeOrUpload(keyed(30 + i until 31 + i, 4L)))
    assert(filesOf(root, store.currentVersion.get) == live(store).size)
    assert(store.compact(keepLast = 1) == 3)
    assert(new java.io.File(root).list().sorted.toSeq == Seq(s"v=${store.currentVersion.get}"))
    assert(live(fresh) == live(store) && live(store).size == 23)
  }

  test("a tombstone of a base key survives later unrelated merges") {
    val root = tempDir("graft_delta_tomb").toString
    val store = new IndexStore(spark, root, "key")
    store.mergeOrUpload(keyed(0 until 100, 0L))
    val del = store.deleteKeys(Seq("k00005").toDF("key"))
    assert(del == 1L)
    (0 until 3).foreach { i =>
      store.mergeOrUpload(keyed(200 + i until 201 + i, 1L))
      val keys = new IndexStore(spark, root, "key").read().get.select("key").as[String].collect().toSet
      assert(!keys("k00005") && keys(f"k${200 + i}%05d") && keys.size == 100 + i, s"after merge $i")
    }
    // four delta keys on a 100-row base: no merge folded
    assert(filesOf(root, store.currentVersion.get) == 3L)
  }

  test("a schema-only marker written by older code reads as a base and merges onto it") {
    val root = tempDir("graft_delta_legacy").toString
    val rows = keyed(0 until 10, 0L)
    rows.write.parquet(s"$root/v=0")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/v=0/_graft_commit"),
      spark.read.parquet(s"$root/v=0").schema.json)
    val store = new IndexStore(spark, root, "key")
    assert(rowsOf(store.read().get).sorted == rowsOf(rows).sorted)
    val r = store.mergeOrUpload(Seq(("k00001", 1L, "fs1"), ("k00042", 1L, "fs0")).toDF("key", "n", "fs"))
    assert(r.created == 1 && r.modified == 1)
    assert(filesOf(root, 1L) == 2L)
    // the base's size is unknown, so the next merge folds the delta
    store.mergeOrUpload(Seq(("k00043", 1L, "fs1")).toDF("key", "n", "fs"))
    assert(filesOf(root, 2L) == 12L)
    assert(rowsOf(new IndexStore(spark, root, "key").read().get).map(_._1).sorted ==
      ((0 until 10).map(i => f"k$i%05d") ++ Seq("k00042", "k00043")).sorted)
  }
}
