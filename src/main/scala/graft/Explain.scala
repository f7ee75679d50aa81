package graft

/** Plan-audit tool: dump formatted physical plans for the registered
  * queries (all, or the names passed as args) so scan pushdown,
  * broadcast choices and codegen spans can be inspected.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val selected = SparkEntry.select(args.toSeq)
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    selected.foreach { case (name, fn) =>
      println(s"\n========== $name ==========")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
