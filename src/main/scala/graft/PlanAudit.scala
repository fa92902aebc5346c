package graft

/** Dev tool + spec backend: the 100-TB plan audit over the whole registry.
  *
  * For every `SparkEntry.queries` entry, plans (does not execute) the query
  * and reports the scale-relevant plan facts:
  *  - `shuffles`: count of shuffle Exchanges (hash/range/single) — every one
  *    is a full data movement at scale;
  *  - `bcast`: BroadcastExchange count (small sides explicitly broadcast);
  *  - `bnlj`: BroadcastNestedLoopJoin count — only legitimate for the
  *    deliberate bounded products (brute-force KNN baseline, C-centroid
  *    assignment);
  *  - `cartesian`: CartesianProduct count — must be ZERO everywhere;
  *  - `pushed`: whether any parquet scan carries PushedFilters.
  *
  * Usage: runMain graft.PlanAudit [sfDir] [query...]. PlanAuditSpec pins
  * these counts so a shuffle regression (e.g. a lost broadcast hint or a
  * window that re-partitions) fails CI instead of surfacing as a 100x
  * slowdown at scale. Each named query's formatted physical plan is
  * printed after the table, for plan review (pushdown, broadcast,
  * shuffle placement).
  */
object PlanAudit {

  final case class Audit(shuffles: Int, bcast: Int, bnlj: Int,
      cartesian: Int, pushed: Boolean)

  def audit(df: org.apache.spark.sql.DataFrame): Audit = {
    val s = df.queryExecution.executedPlan.toString
    def count(re: String) = re.r.findAllMatchIn(s).length
    Audit(
      shuffles = count("Exchange (hashpartitioning|rangepartitioning|SinglePartition)"),
      bcast = count("BroadcastExchange"),
      bnlj = count("BroadcastNestedLoopJoin"),
      cartesian = count("CartesianProduct"),
      pushed = "PushedFilters: \\[[A-Za-z]".r.findFirstIn(s).isDefined)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val explain = args.drop(1)
    val unknown = explain.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"not in SparkEntry.queries: ${unknown.mkString(", ")}")
    val spark = Sessions.builder("8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(f"${"query"}%-22s shuffles bcast bnlj cartesian pushed")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val a = Pin.scope(audit(fn(spark, dir)))
      println(f"$name%-22s ${a.shuffles}%8d ${a.bcast}%5d ${a.bnlj}%4d " +
        f"${a.cartesian}%9d ${a.pushed}%6b")
    }
    explain.foreach { name =>
      println(s"\n========== $name ==========")
      Pin.scope(SparkEntry.queries(name)(spark, dir).explain("formatted"))
    }
    Queries.clear()
    spark.stop()
  }
}
