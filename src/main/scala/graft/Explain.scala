package graft

/** Dev tool: print formatted physical plans for selected gate queries —
  * used to eyeball broadcast placement, pushed filters, scan pruning, and
  * whole-stage-codegen spans (the 100 TB checklist in the builder brief).
  * Usage: dev/run_main.sh graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else Seq(
      "q_c3_fact_build", "q_j2_star_agg", "q_s3_scan_projection", "q_j3_join_residual",
      "q_x_range_join", "q_x_text_search")
    val spark = Session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n======== $n ========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
