package graft

/** Dev-only: dump formatted physical plans for plan auditing — the
  * inspection loop behind PlanQualitySpec's pins
  * (`runMain graft.Explain <dir> [name…]`).
  *
  * Plain names resolve through `SparkEntry.queries`. Names prefixed
  * `sub:` resolve through [[Substrate.all]] and dump the declared
  * substrate's un-memoized builder at its default parameters — a
  * registered query that reads a memo explains as `Scan ExistingRDD`,
  * so plan evidence for memoized families must come from the builders.
  * Upstream substrates a builder reads are read as memos, exactly as
  * the memo itself builds. */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names =
      if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(GraftSession.cpus)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df =
        if (n.startsWith("sub:")) {
          val name = n.stripPrefix("sub:")
          Substrate.all.find(_.name == name).getOrElse(sys.error(
            s"unknown substrate $name; declared: ${Substrate.all.map(_.name).mkString(" ")}"))
            .build(spark, dir)
        } else SparkEntry.queries(n)(spark, dir)
      df.explain("formatted")
    }
    spark.stop()
  }
}
