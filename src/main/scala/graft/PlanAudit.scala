package graft

/** Dev tool: print formatted physical plans for plan-shape review. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    val t = Tables(spark, args.headOption.getOrElse("/root/testdata/sf0.01"))
    val names = args.drop(1).toSet
    SparkEntry.registry.sortBy(_.name).foreach { d =>
      if (names.isEmpty || names.contains(d.name)) {
        println(s"\n########## ${d.name} ##########")
        d.build(t).explain("formatted")
      }
    }
    spark.stop()
  }
}
