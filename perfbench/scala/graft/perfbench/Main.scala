package graft.perfbench

import graft.GraftSession
import graft.operators.{Indexer, Search}
import graft.sources.{IndexCache, IndexStore}
import graft.streaming.{IndexerStreamMetrics, StreamingOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable

/** One benchmark run in one JVM: set-up, a timed phase, then untimed dumps
  * of every answer so the caller can check them.
  *
  * Usage: `graft.perfbench.Main <run.properties>`; `perfbench/run.py`
  * writes the properties and reads back `result.json`.
  *
  * The timed phase has two parts, both on every workload:
  *  - the index read/write loop: per cycle one envelope file is landed into
  *    the input directory of [[StreamingOps.indexBlobEventStream]] and one
  *    micro-batch runs, the matching change-log file lands in the lake's
  *    `events` table and one [[Indexer.runIncremental]] partition runs, then
  *    the cycle's lookups are compiled by [[graft.functions.ODataFilter]]
  *    over [[IndexStore.read]] and keyset-paged by [[Search.pagedByKey]];
  *  - the query mix: rounds of a cold pass (fresh [[IndexCache]]) and
  *    [[Mix.WarmPasses]] warm passes over the registered query keys, each
  *    executed in full with `queryExecution.toRdd.count()`.
  * The first `warm_cycles` of the generated cycles run untimed in set-up,
  * the rest are timed. Then mix rounds run, at least one, and more only
  * while the last round's time still fits in `seconds`.
  * One client thread issues every call (a closed loop).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val p = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(args(0)))
    try p.load(in) finally in.close()
    def prop(k: String): String = Option(p.getProperty(k)).getOrElse(sys.error(s"missing property $k"))
    val work = prop("work")
    val seconds = prop("seconds").toDouble
    val warmCycles = prop("warm_cycles").toInt
    val keys = prop("keys").split(",").toSeq
    val traced = prop("trace") == "1"
    val out = new Json

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val s0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = (System.nanoTime() - s0) / 1e6
    val jvmToSessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val trace = if (traced) Some(new Trace(spark.sparkContext)) else None
    trace.foreach(t => spark.sparkContext.addSparkListener(t.listener))
    val span = new Spans(trace)
    val failures = new Failures
    out.num("session_start_ms", sessionMs)
    out.num("jvm_to_session_s", jvmToSessionS)
    out.str("spark_version", spark.version)
    out.num("max_heap_mb", Runtime.getRuntime.maxMemory / 1048576.0)

    // ---- set-up: load the path index, start the stream, run one warm
    // cycle, and warm every query key on the small corpus ----
    val rw = new RwLoop(spark, work, prop("rw_inputs"), span, failures)
    val mix = new Mix(spark, keys, span, failures)
    val (bulk, warmCycle, warmS) = span("bench.setup") {
      val bulk = rw.bulkLoad(s"$work/pathindex")
      rw.start(s"$work/pathindex")
      (bulk, (0 until warmCycles).map(rw.cycle).sum, mix.warmUp(prop("warm_corpus"), s"$work/answers/mix"))
    }
    out.num("warmup_s", warmS)
    out.num("bulk_load_s", bulk)
    out.num("warm_cycle_s", warmCycle)

    // ---- timed phase ----
    out.num("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1e3)
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    var rwS = 0.0
    val corpus = prop("corpus")
    span("bench.timed") {
      (warmCycles until rw.cycles).foreach(rw.cycle)
      rwS = elapsed
      var last = 0.0
      do {
        val t = elapsed
        mix.round(corpus)
        last = elapsed - t
      } while (elapsed + last < seconds)
    }
    out.num("timed_s", elapsed)
    out.num("rw_s", rwS)
    out.num("cycles", rw.cycles)

    // Spark's cleaner frees shuffle and broadcast state only after a GC
    // has collected their owners: collect, let it run, collect again
    System.gc(); Thread.sleep(1000); System.gc(); Thread.sleep(200); System.gc()
    val rt = Runtime.getRuntime
    out.num("live_heap_mb", (rt.totalMemory - rt.freeMemory) / 1048576.0)

    // ---- untimed: state and answers for the checker ----
    rw.finish(out)
    mix.report(out)
    trace.foreach(t => out.raw("trace", t.json()))
    out.strs("failures", failures.all.toSeq)
    Files.writeString(Paths.get(s"$work/result.json"), out.render())
    spark.stop()
  }
}

/** The index read/write loop (see [[Main]]). */
final class RwLoop(spark: SparkSession, work: String, inputs: String,
                   span: Spans, failures: Failures) {
  import failures.attempt

  private val lookups: Seq[Seq[(String, String)]] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$inputs/lookups.json"))
    (0 until node.size).map { i =>
      val c = node.get(i)
      (0 until c.size).map(j => (c.get(j).get(0).asText, c.get(j).get(1).asText))
    }
  }
  val cycles: Int = lookups.size
  private val lake = s"$work/lake"
  private val streamIn = s"$work/stream_in"
  private var store: IndexStore = _
  private var storeRoot: String = _
  private val dataStore = new IndexStore(spark, s"$work/dataindex", "key", Some("filesystem"))
  private val deadLetters = new IndexerStreamMetrics
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _

  private val batchS = mutable.ArrayBuffer.empty[Double]
  private val runS = mutable.ArrayBuffer.empty[Double]
  private val runs = mutable.ArrayBuffer.empty[String]
  private val lookupRows = mutable.ArrayBuffer.empty[String]

  /** Bulk-load the seeded population into a fresh store; seconds taken. */
  def bulkLoad(root: String): Double = span("IndexStore.bulk_load") {
    val s = new IndexStore(spark, root, "key", Some("filesystem"))
    val pop = spark.read.parquet(s"$inputs/population.parquet")
    val t = System.nanoTime()
    s.mergeOrUpload(pop)
    (System.nanoTime() - t) / 1e9
  }

  /** Point the loop at a loaded path index, load the data index as it
    * stands before the loop, and start the envelope stream. */
  def start(root: String): Unit = {
    storeRoot = root
    store = new IndexStore(spark, root, "key", Some("filesystem"))
    dataStore.mergeOrUpload(spark.read.parquet(s"$inputs/datapop.parquet"))
    Files.createDirectories(Paths.get(streamIn))
    Files.createDirectories(Paths.get(s"$lake/events.parquet"))
    Files.copy(Paths.get(s"$inputs/events_empty.parquet"), Paths.get(s"$lake/events.parquet/c_empty.parquet"))
    Files.copy(Paths.get(s"$inputs/documents.parquet"), Paths.get(s"$lake/documents.parquet"))
    val envelopes = spark.readStream.schema("event_id LONG, envelope STRING").parquet(streamIn)
    query = StreamingOps.indexBlobEventStream(envelopes, store, s"$work/stream_ck", Some(deadLetters))
  }

  /** One cycle: micro-batch, indexer partition run, lookups. Seconds taken. */
  def cycle(i: Int): Double = {
    val t0 = System.nanoTime()
    val name = f"c$i%04d.parquet"
    val env = Paths.get(s"$inputs/env/$name")
    val tb = System.nanoTime()
    attempt(s"cycle $i micro-batch") {
      span.stream("StreamingOps.batch", span.request()) {
        Files.move(env, Paths.get(s"$streamIn/$name"), StandardCopyOption.ATOMIC_MOVE)
        query.processAllAvailable()
      }
    }
    val bs = (System.nanoTime() - tb) / 1e9
    Files.move(Paths.get(s"$inputs/events/$name"), Paths.get(s"$lake/events.parquet/$name"),
      StandardCopyOption.ATOMIC_MOVE)
    // partitions go round-robin from part_1: part_0 holds one folder in
    // fifty where the others hold eleven, so it comes last of ten
    val part = (i + 1) % 10
    val tr = System.nanoTime()
    val res = attempt(s"cycle $i indexer run") {
      span("Indexer.runIncremental", span.request()) {
        Indexer.runIncremental(spark, lake, dataStore, s"$work/state/part_$part",
          odataFilter = Some(s"search.ismatch('data%2fpart_$part*')"))
      }
    }
    val rs = (System.nanoTime() - tr) / 1e9
    lookups(i).zipWithIndex.foreach { case ((kind, filter), j) => lookup(i, j, kind, filter) }
    batchS += bs; runS += rs
    res.foreach { r =>
      val m = r.metrics
      runs += s"""{"cycle":$i,"part":$part,"s":$rs,"readCount":${m.readCount},""" +
        s""""readFailedCount":${m.readFailedCount},"processedCount":${m.processedCount},""" +
        s""""uploadCreatedCount":${m.uploadCreatedCount},"uploadModifiedCount":${m.uploadModifiedCount},""" +
        s""""uploadFailedCount":${m.uploadFailedCount},""" +
        s""""uploadFailedTooLargeCount":${m.uploadFailedTooLargeCount},"watermark":${r.newWatermarkNs}}"""
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def lookup(cycle: Int, j: Int, kind: String, filter: String): Unit = {
    val t = System.nanoTime()
    attempt(s"cycle $cycle lookup $j") {
      span("request.lookup", span.request()) {
        val pred = span("ODataFilter.compile")(graft.functions.ODataFilter.compile(filter))
        val df = span("IndexStore.read")(store.read().get).filter(pred)
        val md = java.security.MessageDigest.getInstance("MD5")
        val it = Search.pagedByKey(df, "key", RwLoop.PageSize)
        var rows = 0L
        var pages = 0
        var more = true
        while (more) {
          more = span("Search.page")(it.hasNext)
          if (more) {
            pages += 1
            it.next().foreach { r =>
              rows += 1
              md.update(r.getAs[String]("key").getBytes("UTF-8")); md.update('\n'.toByte)
            }
          }
        }
        val ms = (System.nanoTime() - t) / 1e6
        val hex = md.digest().map(b => f"${b & 0xff}%02x").mkString
        lookupRows += s"""{"cycle":$cycle,"i":$j,"kind":"$kind","ms":$ms,"pages":$pages,""" +
          s""""rows":$rows,"md5":"$hex"}"""
      }
    }
    ()
  }

  def finish(out: Json): Unit = {
    query.stop()
    out.arr("batch_s", batchS.toSeq)
    out.arr("run_s", runS.toSeq)
    out.raw("runs", runs.mkString("[", ",", "]"))
    out.raw("lookups", lookupRows.mkString("[", ",", "]"))
    out.num("dead_letters", deadLetters.deadLetters.toDouble)
    val live = store.read().get
    val liveKeys = live.count()
    val v = store.currentVersion.get
    val snap = new java.io.File(s"$storeRoot/v=$v")
    val files = listFiles(snap).filter(f => f.getName.endsWith(".parquet"))
    out.num("live_keys", liveKeys.toDouble)
    out.num("store_bytes", files.map(_.length).sum.toDouble)
    out.num("live_files", files.size.toDouble)
    out.num("versions", new java.io.File(storeRoot).listFiles().count(_.getName.startsWith("v=")).toDouble)
    live.select(col("key"), col("eTag"), col("eventTime"), col("filesystem"), col("pathUrlEncoded"))
      .write.parquet(s"$work/answers/pathindex")
    dataStore.read().foreach(_.select(col("key"), col("doc_id")).write.parquet(s"$work/answers/dataindex"))
  }

  private def listFiles(f: java.io.File): Seq[java.io.File] =
    Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
      .flatMap(x => if (x.isDirectory) listFiles(x) else Seq(x))
}

object RwLoop {
  /** The reference's ListPaths page size. */
  val PageSize = 5000
}

/** Span opener over an optional [[Trace]]: without one, bodies just run. */
final class Spans(trace: Option[Trace]) {
  def apply[T](name: String, req: Int = 0)(body: => T): T = trace.fold(body)(_.apply(name, req)(body))
  def stream[T](name: String, req: Int = 0)(body: => T): T = trace.fold(body)(_.stream(name, req)(body))
  def request(): Int = trace.map(_.request()).getOrElse(0)
}

/** Every failed or wrong operation of the run, in order. */
final class Failures {
  val all = mutable.ArrayBuffer.empty[String]
  def attempt[T](what: String)(body: => T): Option[T] =
    try Some(body) catch {
      case e: Throwable =>
        all += s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        None
    }
}

/** The query mix (see [[Main]]). */
final class Mix(spark: SparkSession, keys: Seq[String], span: Spans, failures: Failures) {
  import failures.attempt
  private val fns = graft.SparkEntry.queries
  private val packOf: Map[String, String] = graft.SparkEntry.packs.flatMap(p =>
    p.queries.keys.map(_ -> p.getClass.getSimpleName.stripSuffix("$"))).toMap
  require(keys.forall(fns.contains), s"unknown query keys: ${keys.filterNot(fns.contains)}")
  private val passes = mutable.ArrayBuffer.empty[String]
  private val rows = mutable.Map.empty[String, Long]

  private def exec(key: String, dir: String): (Double, Double, Double, Long) = {
    val pack = packOf(key)
    val t0 = System.nanoTime()
    val df: DataFrame = span(s"$pack.build")(fns(key)(spark, dir))
    val t1 = System.nanoTime()
    span(s"$pack.plan")(df.queryExecution.executedPlan)
    val t2 = System.nanoTime()
    val n = span(s"$pack.exec")(df.queryExecution.toRdd.count())
    val t3 = System.nanoTime()
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, n)
  }

  /** Run every key once on the small corpus, writing its full answer as
    * parquet under `answers` for the oracle check. */
  def warmUp(dir: String, answers: String): Double = {
    val t = System.nanoTime()
    keys.foreach(k => attempt(s"warm-up $k")(span("mix.warmup") {
      span(s"${packOf(k)}.build")(fns(k)(spark, dir)).write.parquet(s"$answers/$k")
    }))
    (System.nanoTime() - t) / 1e9
  }

  /** A cold pass (fresh IndexCache), then the warm passes. */
  def round(dir: String): Unit = {
    IndexCache.invalidate()
    ("cold" +: Seq.fill(Mix.WarmPasses)("warm")).foreach { kind =>
      val per = keys.map { k =>
        attempt(s"$kind $k")(span(s"mix.$kind")(exec(k, dir))).map { case (b, p, e, n) =>
          rows.get(k).filter(_ != n).foreach(m => failures.all += s"$k: $n rows in a $kind pass, $m before")
          rows(k) = n
          s""""$k":[$b,$p,$e,$n]"""
        }.getOrElse(s""""$k":null""")
      }
      passes += s"""{"kind":"$kind","keys":${per.mkString("{", ",", "}")}}"""
    }
  }

  def report(out: Json): Unit = {
    out.raw("passes", passes.mkString("[", ",", "]"))
    out.raw("packs", keys.map(k => s""""$k":"${packOf(k)}"""").mkString("{", ",", "}"))
    out.strs("all_packs", graft.SparkEntry.packs.map(p => p.getClass.getSimpleName.stripSuffix("$")))
    out.raw("oracles", keys.map(k => Json.quote(k) + ":" + Json.quote(graft.SparkEntry.oracleSql(k)))
      .mkString("{", ",", "}"))
  }
}

object Mix {
  /** Warm passes per cold pass: the warm time is their median, since one
    * warm pass of the seven-key mix spread 0.24 of its median over ten seeds
    * on a 4-core host. */
  val WarmPasses = 3
}

/** Minimal JSON object writer for the result file. */
final class Json {
  import Json.{quote => q}
  private val fields = mutable.ArrayBuffer.empty[String]
  def num(k: String, v: Double): Unit = fields += s"${q(k)}:$v"
  def str(k: String, v: String): Unit = fields += s"${q(k)}:${q(v)}"
  def arr(k: String, v: Seq[Double]): Unit = fields += s"${q(k)}:${v.mkString("[", ",", "]")}"
  def strs(k: String, v: Seq[String]): Unit = fields += s"${q(k)}:${v.map(q).mkString("[", ",", "]")}"
  def raw(k: String, json: String): Unit = fields += s"${q(k)}:$json"
  def render(): String = fields.mkString("{", ",", "}")
}

object Json {
  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
