package graft

/** Dev tool: print the formatted physical plan of named queries (all when no
  * args) at SPARK_GRAFT_SF_DIR — used to audit pushdowns (PushedFilters /
  * ReadSchema), join strategies, codegen spans, and shuffle counts.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Graft.session(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val wanted = args.toSet
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted(n) }
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        fn(spark, sfDir).explain("formatted")
      }
    spark.stop()
  }
}
