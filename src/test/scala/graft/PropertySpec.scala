package graft

import graft.functions.{Ranks, SkewJoin}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.Random

/** Randomized (seeded, reproducible) equivalence checks for the
  * distributed helpers against their single-task / textbook forms.
  */
class PropertySpec extends SparkSpec {

  test("globalRowNumber equals the single-task window for random unique key sets") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val rnd = new Random(seed)
      val keys = Seq.fill(200)(rnd.alphanumeric.take(12).mkString).distinct
      val df = keys.toDF("k")
      val dist = Ranks.globalRowNumber(df, "k", partitions = 7)
        .select("k", "rn").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val single = df.withColumn("rn", row_number().over(Window.orderBy(col("k"))))
        .collect().map(r => r.getString(0) -> r.getInt(1).toLong).toMap
      assert(dist == single, s"seed=$seed")
    }
  }

  test("salted join equals plain join for random key distributions") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val rnd = new Random(seed)
      val ks = Seq("a", "b", "c", "hot")
      val big = Seq.tabulate(300)(i => (ks(rnd.nextInt(4)), rnd.nextLong(), i.toLong))
        .toDF("key", "v", "uid")
      val small = Seq(("a", 1), ("hot", 2), ("zz", 3)).toDF("key", "w")
      val plain = big.join(small, "key").select("key", "uid", "w")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sorted
      val salted = SkewJoin.saltedJoin(big, small, "key", "uid", 5)
        .select("key", "uid", "w")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sorted
      assert(plain.sameElements(salted), s"seed=$seed")
    }
  }

  test("asofJoin equals the textbook per-probe scan on random trade/quote sets") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val rnd = new Random(seed)
      val keys = Seq("k0", "k1", "k2")
      // duplicate timestamps on purpose: exercise the tie rule
      val quotes = Seq.tabulate(120)(i =>
        (keys(rnd.nextInt(3)), rnd.nextInt(40).toLong, i.toLong, rnd.nextDouble()))
        .toDF("key", "q_t", "q_id", "q_v")
      val probes = Seq.tabulate(60)(i =>
        (keys(rnd.nextInt(3)), rnd.nextInt(45).toLong, (1000 + i).toLong))
        .toDF("key", "p_t", "p_id")
      val joined = graft.operators.TemporalJoins
        .asofJoin(probes, quotes, "key", "p_t", "q_t", "q_id")
        .collect()
        .map(r => r.getAs[Long]("p_id") ->
          (if (r.isNullAt(r.fieldIndex("q_id"))) None else Some(r.getAs[Long]("q_id")))).toMap
      val qRows = quotes.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      probes.collect().foreach { p =>
        val expected = qRows
          .filter(q => q._1 == p.getString(0) && q._2 <= p.getLong(1))
          .sortBy(q => (q._2, q._3)).lastOption.map(_._3)
        assert(joined(p.getLong(2)) == expected, s"seed=$seed probe=${p.getLong(2)}")
      }
    }
  }

  test("IndexStore merge counts are exact for random distinct-key batches") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new Random(seed)
      val batch = Seq.fill(20)((rnd.alphanumeric.take(6).mkString, rnd.nextInt(100)))
        .distinctBy(_._1)
      val root = tempDir("graft_prop").toString
      val store = new graft.sources.IndexStore(spark, root, "key")
      val r1 = store.mergeOrUpload(batch.toDF("key", "v"))
      assert(r1.created == batch.length && r1.modified == 0, s"seed=$seed")
      val r2 = store.mergeOrUpload(batch.reverse.toDF("key", "v"))
      assert(r2.created == 0 && r2.modified == batch.length, s"seed=$seed")
    }
  }

  test("jaro-winkler: symmetry, bounds, identity, and boost dominance on random strings") {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    def jw(a: String, b: String): Double =
      graft.expressions.JaroWinklerAlgo.sim(u(a), u(b))
    for (seed <- 1 to 5) {
      val rnd = new Random(seed)
      def str(): String = rnd.alphanumeric.take(rnd.nextInt(15)).mkString
      for (_ <- 1 to 200) {
        val (a, b) = (str(), str())
        val s = jw(a, b)
        assert(s == jw(b, a), s"symmetry ('$a','$b')")      // window uses max/min of lengths
        assert(s >= 0.0 && s <= 1.0, s"bounds ('$a','$b')")
        if (a.nonEmpty) assert(jw(a, a) == 1.0, s"identity '$a'")
        // the Winkler boost can only raise a similarity, never lower
        // it — compared against the REAL unboosted jaro component, not
        // a derived floor (min(s, f(s)) <= s held tautologically)
        if (a.nonEmpty && b.nonEmpty)
          assert(s >= graft.expressions.JaroWinklerAlgo.jaroOnly(u(a), u(b)) - 1e-12,
            s"boost dominance ('$a','$b')")
      }
    }
    // bounds used by search_fuzzy_jw's partition prune: jw >= 0.9
    // forces min/max length ratio >= 0.5 — no random pair may violate it
    for (seed <- 6 to 8) {
      val rnd = new Random(seed)
      def str(n: Int): String = Seq.fill(n)(('a' + rnd.nextInt(6)).toChar).mkString
      for (_ <- 1 to 500) {
        val a = str(1 + rnd.nextInt(12)); val b = str(1 + rnd.nextInt(12))
        if (jw(a, b) >= 0.9)
          assert(math.min(a.length, b.length) * 2 >= math.max(a.length, b.length),
            s"length-ratio bound violated by ('$a','$b')")
      }
    }
  }

}
