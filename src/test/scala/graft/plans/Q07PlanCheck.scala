package graft.plans

import graft.SparkSpec

/** With the rewrite default-on and the extensions installed, the
  * registry's own q07 (DataFrame formulation: row_number cast to long,
  * filtered, projected) must take the heap path — the filter is pushed
  * through the projection and the long cast unwrapped by Spark's own
  * optimizer before the rule sees it. This pins the plan; the speed
  * is measured by the bench. */
class Q07PlanCheck extends SparkSpec {
  test("registry q07 plans through the native heap under the default") {
    GraftPlans.install(spark)
    val prev = spark.conf.getOption(TopKWindowRewrite.EnabledKey)
    spark.conf.unset(TopKWindowRewrite.EnabledKey) // the DEFAULT, not "true"
    try {
      val df = graft.queries.Relational.q07(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKeyFinal"),
        s"q07 idiom not rewritten under default-on:\n$plan")
      // and the gate contract survives: same rows as the stock plan
      spark.conf.set(TopKWindowRewrite.EnabledKey, "false")
      val stock = graft.queries.Relational.q07(spark, sf)
        .collect().map(_.toString).toSeq
      spark.conf.unset(TopKWindowRewrite.EnabledKey)
      val native = df.collect().map(_.toString).toSeq
      assert(native == stock, "q07 rows changed under the rewrite")
    } finally prev match {
      case Some(v) => spark.conf.set(TopKWindowRewrite.EnabledKey, v)
      case None => spark.conf.unset(TopKWindowRewrite.EnabledKey)
    }
  }
}
