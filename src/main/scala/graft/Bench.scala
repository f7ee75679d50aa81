package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional subset (comma-separated names) for extra scale points —
    // the driver's per-round run leaves this unset and benches all.
    // Keys run IN THE GIVEN CSV ORDER (r16): Scala Map iteration is
    // hash-ordered, which made within-shard execution order arbitrary —
    // the cert harness schedules GB-scale index builders LAST in their
    // shard so their JVM-aging cost can't inflate unrelated keys, and
    // that only works if the order given is the order run. Unset ⇒ all
    // keys, name-sorted (deterministic for the driver gate).
    val selected = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY").toSeq.flatMap(_.split(",")))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the engine's standard tuning (GraftSession: AQE + skew join, 64MB
    // broadcast threshold, extensions) — bench what a cluster would run
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Force FULL plan execution: materialize the query's own physical
    // plan and count its rows. A plain df.count() re-optimizes with the
    // count on top, and Catalyst then legally DELETES the work being
    // measured — outer joins to aggregate-unique right sides are
    // eliminated and every projection expression is pruned (measured:
    // text_quality_model 1.4s under count() vs 41.3s fully executed at
    // sf10 — the count path never ran the model at all).
    def exec(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()
    // Warm up JVM/codegen per query on the tiny sf so the timed numbers
    // measure steady-state plan execution, not first-run JIT + codegen.
    val warmDir = "/root/testdata/sf0.001"
    selected.foreach { case (_, fn) =>
      try exec(fn(spark, warmDir)) catch { case _: Throwable => () }
    }
    // best of N timed runs per query: steady-state plan execution,
    // robust to co-tenant load spikes (the round-3 recorded bench was
    // 3× inflated by machine load; best-of-N plus the recorded load
    // averages below let a reader adjudicate without a re-run).
    // A run that THROWS is recorded as −1, never as its elapsed time —
    // a fast failure must not masquerade as a fast query (a round-8
    // sf10 series recorded 0.01s "wins" for heap-pressure casualties).
    //
    // r16 (verdict #3): optional CONVERGENCE mode for adjudication
    // artifacts — SPARK_GRAFT_CONVERGE=1 keeps running (min 3, up to
    // SPARK_GRAFT_RUNS, default 6) until the last two successful runs
    // agree within 10%; each key records a `converged` verdict either
    // way, so a still-decaying series (r15's dedup_ngram_jaccard sf10
    // read [50.3, 26.1, 8.9] at run 3) can never silently pass as a
    // steady-state reading. r16 (verdict #5): the 1-min loadavg is
    // sampled at each KEY's start and embedded per-key, so a co-tenant
    // window inside a long run (r15's parts_abc 16-23s vs 0.80s quiet)
    // is adjudicable from the artifact alone.
    val converge = sys.env.get("SPARK_GRAFT_CONVERGE").contains("1")
    val maxRuns = sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt)
      .getOrElse(if (converge) 6 else 3)
    def loadNow(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ").head.toDouble
      catch { case _: Throwable => -1.0 }
    def lastTwoAgree(ok: Seq[Double]): Boolean =
      ok.size >= 2 && {
        val Seq(a, b) = ok.takeRight(2)
        math.abs(a - b) <= 0.10 * math.min(a, b) ||
          math.abs(a - b) < 0.05 // sub-50ms jitter on near-zero probes
      }
    val runsAll = selected.map { case (name, fn) =>
      val la = loadNow()
      var times = Vector.empty[(Double, Boolean)]
      var n = 0
      while (n < maxRuns &&
          !(n >= 3 && converge && lastTwoAgree(times.filter(_._2).map(_._1)))) {
        val t0 = System.nanoTime()
        val ok = try { exec(fn(spark, sfDir)); true } catch { case _: Throwable => false }
        times :+= ((System.nanoTime() - t0) / 1e9, ok)
        n += 1
      }
      (name, times, la, lastTwoAgree(times.filter(_._2).map(_._1)))
    }
    val results: Map[String, Double] = runsAll.map { case (name, times, _, _) =>
      val good = times.filter(_._2).map(_._1)
      name -> (if (good.nonEmpty) good.min else -1.0)
    }.toMap
    val errors = results.collect { case (n, v) if v < 0 => n }.toSeq.sorted
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    // 1/5/15-min system load averages at end of run: a load far above
    // the core count means the numbers were taken under co-tenancy
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage // 1-min only via MXBean; read /proc for all three
    val loadAvgs: String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ").take(3).mkString("[", ",", "]")
      catch { case _: Throwable => s"[$load]" }
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    // all three per-run times (failed runs as -1), IN RUN ORDER — the
    // file artifact's evidence for adjudicating first-run index-build
    // cost vs the steady-state min that "queries" reports
    val runsJson = runsAll.map { case (k, ts, _, _) =>
      "\"" + k + "\":" + ts.map { case (t, ok) => if (ok) f"$t%.3f" else "-1" }
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // per-key 1-min loadavg at the key's start + convergence verdict —
    // the self-adjudication columns of the artifact (r16)
    val loadStartJson = runsAll.map { case (k, _, la, _) =>
      "\"" + k + "\":" + f"$la%.2f"
    }.mkString("{", ",", "}")
    val convergedJson = runsAll.map { case (k, _, _, c) =>
      "\"" + k + "\":" + c
    }.mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$runsJson,"load_start":$loadStartJson,"converged":$convergedJson,"converge_mode":$converge,"errors":$errJson,"sf":"$sfDir","loadavg":$loadAvgs,"cpus":$cpus}"""
    // The full per-query line above runs ~4KB at 140+ queries; the driver
    // records only a 2000-char stdout TAIL, so printing it guarantees an
    // unparseable fragment in the round artifact (r01–r07 all carried
    // one). It goes ONLY to the file; stdout gets exactly ONE compact
    // JSON line — total + environment + the 20 slowest queries under the
    // contract's "queries" key — short enough to always land whole.
    // not caught: the stdout line below points readers at this file, so
    // a run that cannot write it must fail
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    val top = results.toSeq.sortBy(-_._2).take(20)
      .map { case (k, v) => s"\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"queries":$top,"sf":"$sfDir","loadavg":$loadAvgs,"cpus":$cpus,"queries_full":"$out"}""")
    spark.stop()
  }
}
