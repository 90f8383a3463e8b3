package graft.tools

/** Plan-inspection tool: dumps the formatted physical plan of each named
  * gate query (or all, with no args) so shuffle counts, broadcast choices,
  * pushed filters, and WholeStageCodegen spans can be reviewed.
  *
  * {{{ sbt "runMain graft.tools.Explain q_j1_broadcast_dims q_w1_latest_wins" }}}
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // Validate names BEFORE paying SparkSession startup: a typo should
    // fail instantly.
    val names = if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}\n" +
        s"known: ${graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    // Shared engine defaults (GraftSession), so dumped plans reflect the
    // configuration Bench times — and SPARK_GRAFT_SQL_CONF A/Bs (e.g. the
    // constraint-propagation plan audit) apply here too.
    val spark = graft.GraftSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
