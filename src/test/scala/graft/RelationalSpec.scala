package graft

import graft.operators.Relational

class RelationalSpec extends SparkSpec {

  test("q1 pricing summary: 6 flag/status groups, exact quantities") {
    val rows = Relational.q1PricingSummary(spark, sf).collect()
    assert(rows.length === 6)
    val schema = rows.head.schema.fieldNames.toSeq
    assert(schema === Seq("l_returnflag", "l_linestatus", "sum_qty",
      "sum_base_price", "sum_disc_price", "sum_charge", "avg_qty",
      "avg_price", "avg_disc", "count_order"))
    // sums are exact integers of cents → non-negative, count > 0
    rows.foreach { r =>
      assert(r.getAs[Long]("count_order") > 0)
      assert(r.getAs[Double]("sum_disc_price") <= r.getAs[Double]("sum_base_price"))
    }
  }

  test("q3 shipping priority: top-10, sorted by revenue desc") {
    val rows = Relational.q3ShippingPriority(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val revs = rows.map(_.getAs[Double]("revenue")).toSeq
    assert(revs === revs.sorted(Ordering[Double].reverse))
  }

  test("q5 local supplier: revenue per nation, non-empty") {
    val rows = Relational.q5LocalSupplier(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[String]("n_name")).distinct.length === rows.length)
  }

  test("q6 forecast revenue: single positive row") {
    val rows = Relational.q6ForecastRevenue(spark, sf).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Double]("revenue") > 0)
  }

  test("queries and oracles stay in sync") {
    assert(Relational.specs.map(_.name) === Seq("q1_pricing_summary",
      "q3_shipping_priority", "q5_local_supplier", "q6_forecast_revenue"))
    assert(Relational.specs.forall(_.oracle.contains("SELECT")))
  }
}
