package graft

import graft.functions.HashFunctions

class GraftCatalogSpec extends SparkSpec {

  test("installed catalog serves views and native functions to pure SQL") {
    GraftCatalog.install(spark, sf)
    val fp = spark.sql(
      "SELECT doc_id, rolling_hash(text) AS h FROM documents ORDER BY doc_id LIMIT 3")
      .collect()
    val refText = spark.sql(
      "SELECT text FROM documents ORDER BY doc_id LIMIT 3")
      .collect().map(_.getString(0))
    assert(fp.map(_.getLong(1)).toSeq ===
      refText.map(HashFunctions.rollingHashRef(_)).toSeq)

    val sim = spark.sql(
      """SELECT a.vec_id, b.vec_id,
        |  dot_product(a.embedding, b.embedding) AS dp,
        |  sq_l2(a.embedding, b.embedding) AS d2
        |FROM embeddings a JOIN embeddings b
        |  ON a.vec_id = 0 AND b.vec_id = 1""".stripMargin).collect().head
    assert(!sim.isNullAt(2) && sim.getDouble(3) > 0)

    val sh = spark.sql(
      "SELECT size(bigram_shingle_hashes(text)) AS n, simhash64(bigram_shingle_hashes(text)) AS s FROM documents LIMIT 5")
      .collect()
    assert(sh.forall(r => r.getInt(0) > 0))

    // ngram_hashes in SQL agrees with the Column API
    val ng = spark.sql(
      "SELECT size(ngram_hashes(text, 3)) AS n FROM documents LIMIT 5")
      .collect().map(_.getInt(0))
    val viaApi = Tables.documents(spark, sf).limit(5)
      .select(org.apache.spark.sql.functions
        .size(graft.functions.ShingleFunctions.ngram_hashes(
          org.apache.spark.sql.functions.col("text"), 3)).as("n"))
      .collect().map(_.getInt(0))
    assert(ng.toSeq === viaApi.toSeq)
  }

  test("GraftExtensions injects the native functions at session build") {
    import org.apache.spark.sql.SparkSession
    // build a sibling session over the same SparkContext with the
    // extensions applied the deployment way (builder.withExtensions)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = try {
      SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
    assert(s2 ne spark, "extensions need a freshly built session")
    val h = s2.sql("SELECT rolling_hash('abc') AS h").collect().head.getLong(0)
    assert(h === HashFunctions.rollingHashRef("abc"))
    val d = s2.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(d === 11.0)
    // the injected functions are visible in the catalog
    assert(s2.catalog.functionExists("simhash64"))
    assert(s2.catalog.functionExists("sq_l2"))
    assert(s2.catalog.functionExists("ngram_hashes"))
    // round-8 additions ride the same injection path
    assert(s2.catalog.functionExists("accent_fold"))
    assert(s2.catalog.functionExists("nfc_normalize"))
    assert(s2.catalog.functionExists("damerau_levenshtein"))
    assert(s2.catalog.functionExists("jaro_winkler"))
    assert(s2.sql("SELECT accent_fold('café') AS f").head.getString(0)
      === "cafe")
    // both registration paths serve the same function table
    GraftCatalog.install(spark, sf)
    val names = GraftExtensions.functions.map(_._1)
    assert(names.distinct.size === 12 &&
      names.filter(s2.catalog.functionExists) === names &&
      names.filter(spark.catalog.functionExists) === names)
    // the custom top-k strategy is injected too: the plan node appears
    import org.apache.spark.sql.functions.col
    val topkPlan = graft.plans.TopKPerKey.topKPerKey(
      s2.range(10).select(col("id") % 2 as "g", col("id") as "v"),
      Seq("g"), Seq(("v", true)), 2)
      .queryExecution.executedPlan.toString
    assert(topkPlan.contains("TopKPerKey"),
      s"strategy not injected via extensions:\n$topkPlan")
  }
  test("sorted_intersect_count and minhash_signature reachable from SQL") {
    GraftCatalog.install(spark, sf)
    val r = spark.sql(
      """SELECT sorted_intersect_count(array(1L, 2L, 5L),
        |  array(2L, 3L, 5L)) AS n,
        |  size(minhash_signature(bigram_shingle_hashes('a b c d'))) AS k
        |""".stripMargin).head
    assert(r.getLong(0) === 2L)
    assert(r.getInt(1) === 32)
    // SQL family equals the Scala-side signature builder
    import org.apache.spark.sql.functions.col
    val viaSql = spark.sql(
      "SELECT minhash_signature(bigram_shingle_hashes(text)) AS s " +
        "FROM documents ORDER BY doc_id LIMIT 3")
      .collect().map(_.getSeq[Long](0))
    val viaApi = graft.functions.Dedup.withSignature(
      Tables.documents(spark, sf).withColumn("shingle_hashes",
        graft.functions.ShingleFunctions
          .bigram_shingle_hashes(col("text"))))
      .orderBy("doc_id").limit(3)
      .select("signature").collect().map(_.getSeq[Long](0))
    assert(viaSql.toSeq === viaApi.toSeq)
  }

}
