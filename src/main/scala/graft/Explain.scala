package graft
/** Dev utility: dump formatted plans for plan-review (not part of the
  * driver contract). Usage: runMain graft.Explain [sfDir] [query...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("q1_pricing_summary", "q3_top_order_revenue",
        "q5_region_nation_revenue", "flagship_bin_label_dist")
    val spark = SparkEntry.session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
