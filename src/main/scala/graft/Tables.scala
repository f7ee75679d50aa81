package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * At cluster scale these would be partitioned/bucketed external tables;
  * reads stay declarative so Catalyst pushes filters + prunes columns
  * down to the parquet scans.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet session confs: the ones that change what inference
    * returns (`spark.sql.legacy.parquet.nanosAsLong`, which [[events]]
    * sets, or `spark.sql.parquet.inferTimestampNTZ.enabled`) are among
    * them. */
  private val InferenceConfs = Seq("spark.sql.parquet.", "spark.sql.legacy.parquet.")

  /** Per table path and inference confs: a digest of the file set
    * (names, sizes, modification times) last read there, and the schema
    * inferred from it. Entries live as long as the JVM, one per path and
    * conf set, each a schema and 32 bytes. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Map[String, String]), (Seq[Byte], StructType)]()

  /** SHA-256 of the files `df`'s scan listed, by name, size and
    * modification time; None for a scan with no listed file index. */
  private def fileSet(df: DataFrame): Option[Seq[Byte]] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .collect { case h: HadoopFsRelation => h.location }
      .collect { case i: PartitioningAwareFileIndex =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        i.allFiles().map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}\n").sorted
          .foreach(l => md.update(l.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        md.digest().toSeq
      }

  /** Table `name` of `dir`. A read that infers the schema runs a
    * one-task job over a parquet footer plus about 60 ms of driver work;
    * with the schema given it runs no job (6–8 ms, sf0.1 on a 4-core
    * host). So the inferred schema is cached, keyed by the table's path
    * and the session's parquet confs and kept with a digest of the file
    * set it was inferred from. A load builds the frame with the cached
    * schema and compares the files that frame's own listing found: an
    * unchanged table reads with no job and one listing, and an appended
    * or rewritten one infers again. That listing's cost on tables of
    * many files is unmeasured beyond sf0.1.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = new Path(s"$dir/$name.parquet")
    val key = (path.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(path).toString,
      spark.conf.getAll.filter { case (k, _) => InferenceConfs.exists(k.startsWith) })
    Option(schemas.get(key)).map { case (files, s) => (files, spark.read.schema(s).parquet(path.toString)) }
      .collect { case (files, df) if fileSet(df).contains(files) => df }
      .getOrElse {
        val df = spark.read.parquet(path.toString)
        fileSet(df).foreach(files => schemas.put(key, files -> df.schema))
        df
      }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts has shipped in three physical forms across driver
    * testdata generations: parquet TIMESTAMP(NANOS) (read as a long
    * under spark.sql.legacy.parquet.nanosAsLong=true), TIMESTAMP_NTZ
    * (pandas/pyarrow naive micros), and plain TIMESTAMP. Normalize all
    * three to the same two columns: `ts` as session-TZ TIMESTAMP and
    * `ts_ns` as exact epoch nanoseconds (the key used for gap
    * arithmetic, which must match DuckDB's epoch_ns on the same file).
    * NTZ wall-clock is interpreted as UTC — byte-identical to what
    * DuckDB's naive reader does — so the session TZ is pinned here.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // runtime-settable; required to read the TIMESTAMP(NANOS) column
    // even when the caller's session wasn't built by GraftSession
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // Re-read under an explicit LTZ schema: the NTZ->LTZ conversion
        // happens IN THE SCAN (under UTC it is a physical no-op on the
        // stored micros), so `ts` stays a scan attribute and delta
        // predicates on it reach the parquet row groups — a cast
        // would block pushdown.
        val sch = StructType(raw.schema.fields.map(f =>
          if (f.name == "ts") f.copy(dataType = TimestampType) else f))
        s.read.schema(sch).parquet(s"$d/events.parquet")
          .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
      case _ =>
        raw.withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    }
  }

  /** Delta-cutoff predicates over the normalized events frame, written
    * so one conjunct always reaches the parquet scan in EVERY physical
    * era of the table: NANOS-era files carry ts_ns as the raw column
    * (the ts_ns conjunct pushes), timestamp files carry ts (the ts
    * conjunct pushes). The timestamp twin is implied by the exact
    * ts_ns conjunct — ts is the microsecond truncation of ts_ns — so
    * the row set is decided by the ns comparison alone.
    */
  def tsSinceNs(cutoffNs: Long): Column =
    col("ts_ns") >= cutoffNs &&
      col("ts") >= timestamp_micros(lit(Math.floorDiv(cutoffNs, 1000L)))
  def tsAfterNs(cutoffNs: Long): Column =
    col("ts_ns") > cutoffNs &&
      col("ts") >= timestamp_micros(lit(Math.floorDiv(cutoffNs, 1000L)))
  def tsBeforeNs(cutoffNs: Long): Column =
    col("ts_ns") < cutoffNs &&
      col("ts") <= timestamp_micros(lit(Math.floorDiv(cutoffNs - 1L, 1000L)))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Redistribute a scan that collapsed to fewer splits than cores (a
    * tiny local file = one split; a real lake scan = thousands, where
    * this is a no-op) so CPU-bound per-row kernels engage every core.
    * Hash-partitioning on the group key keeps a downstream per-key
    * aggregation exchange-free, so when the redistribute fires it
    * replaces (not adds to) that shuffle. The split count is read off
    * the physical plan's RDD: `df.rdd` would post a listener action
    * (and plan a row deserializer) for a job that never runs.
    */
  def parallelized(spark: SparkSession, df: DataFrame, key: String): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < cores) df.repartition(cores, col(key)) else df
  }
}

/** A family of operators: named queries plus (where SQL-expressible)
  * DuckDB oracle SQL with IDENTICAL output column names.
  */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]

  /** Declared per-decade SCALE BAND per key — the single source of
    * truth the certification harness grades against (round-13 verdict
    * #4: the band table used to live in tools/adjudicate_sf10.py while
    * each key's scale claim lived in its scaladoc, and the drift caused
    * two re-banding episodes during certification; declaring the band
    * NEXT TO the registry binding makes a mis-filing a code-review
    * diff, not a cert-time judgment call). Bands (10× data ⇒):
    *  - [[Band.Probe]]  — persisted-index probe / fixed-size serving
    *    frame: flat, ≤3× per decade (plus an absolute sf10 ≤2.5s pass,
    *    ratio-bounded at the linear band so constants on a sub-second
    *    sf1 point never mask a scan).
    *  - [[Band.Sketch]] — constant-STATE mergeable sketch: the scale
    *    claim is state + mergeability (spec-proven), the TIME is one
    *    linear corpus pass, so the time band is linear's ≤12×.
    *  - [[Band.Sublin]] — vocabulary/key-space-bounded reduced-frame
    *    work: ≤6× per decade.
    *  - [[Band.Linear]] — one-or-more full corpus passes: ≤12× (10×
    *    data plus run-to-run variance). The default; only non-linear
    *    claims need declaring.
    * Keys absent from this map grade as [[Band.Linear]].
    */
  def bands: Map[String, String] = Map.empty
}

/** Band names — see [[QueryPack.bands]]. */
object Band {
  val Probe = "probe"
  val Sketch = "sketch"
  val Sublin = "sublin"
  val Linear = "linear"
  val All: Set[String] = Set(Probe, Sketch, Sublin, Linear)
}
