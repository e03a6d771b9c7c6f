package graft.tools

/** Prints [[graft.plans.JoinPinAudit]]'s findings for every batch gate
  * query — the human-readable form of what `JoinPinAuditSpec` asserts.
  * Usage: runMain graft.tools.PinAuditReport [sfDir]
  */
object PinAuditReport {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    val all = graft.plans.JoinPinAudit.auditAll(spark, dir)
    all.toSeq.sortBy(_._1).foreach { case (_, fs) =>
      fs.foreach(f => println(s"[pin-audit] $f"))
    }
    println(s"[pin-audit] total findings: ${all.values.map(_.size).sum}")
    spark.stop()
  }
}
