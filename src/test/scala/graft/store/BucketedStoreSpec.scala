package graft.store

import org.apache.spark.sql.functions._

import graft.SparkSpec

class BucketedStoreSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed edges make the keyword self-join shuffle-free") {
    val root = java.nio.file.Files.createTempDirectory("graftbucket").toString
    val store = new GraphStore(spark, root)
    val hk = graft.Tables.lineitem(spark, sf0001)
      .select($"l_suppkey".cast("string").as("src"), $"l_partkey".cast("string").as("dst"))
      .distinct()
    store.writeEdgesBucketed("HAS_KEYWORD", hk, buckets = 4)

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val b = store.bucketedEdges("HAS_KEYWORD")
      val selfJoin = b.as("x").join(b.as("y"),
        $"x.dst" === $"y.dst" && $"x.src" < $"y.src")
      selfJoin.count() // force execution so the final plan is real
      val plan = selfJoin.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed self-join should not shuffle:\n$plan")
      // sanity: same result as the unbucketed join
      val plainCount = hk.as("x").join(hk.as("y"),
        $"x.dst" === $"y.dst" && $"x.src" < $"y.src").count()
      assert(selfJoin.count() == plainCount)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("gate-shaped flagship J3 over bucketed edges plans zero shuffle Exchange") {
    val root = java.nio.file.Files.createTempDirectory("graftbucket3").toString
    val store = new GraphStore(spark, root)
    val hk = graft.Tables.lineitem(spark, sf0001)
      .select($"l_suppkey".as("src"), $"l_partkey".as("dst")).distinct()
    store.writeEdgesBucketed("HAS_KEYWORD", hk, buckets = 4)
    val bt = graft.Tables.supplier(spark, sf0001)
      .select($"s_suppkey".as("src"), $"s_nationkey".as("dst"))
    val q = graft.query.GraphQueries.interconnections(
      store.bucketedEdges("HAS_KEYWORD"), bt, canonicalPairs = true, limit = 100)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    // self-join reads co-partitioned buckets; dims broadcast; the final
    // ordered LIMIT is TakeOrderedAndProject — so no hash-partition
    // shuffle anywhere in the gate-shaped plan
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed flagship should not shuffle:\n$plan")
    // and it matches the unbucketed plan's result
    val plain = graft.query.GraphQueries.interconnections(
      hk, bt, canonicalPairs = true, limit = 100)
    assert(q.exceptAll(plain).count() == 0 && plain.exceptAll(q).count() == 0)
  }

  test("partitioned node table prunes partitions on the filter column") {
    val root = java.nio.file.Files.createTempDirectory("graftpart").toString
    val store = new GraphStore(spark, root)
    val links = graft.Tables.supplier(spark, sf0001)
      .select($"s_suppkey".cast("string").as("url"), $"s_name".as("title"),
        concat(lit("cat"), $"s_nationkey" % 5).as("category"))
    store.writeNodesPartitioned("link", links, "category")
    val q = store.nodes("link").filter($"category" === "cat3")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    // the category predicate must prune at planning time, not scan+filter
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*cat3[^\\]]*\\].*"),
      s"partition filter not pushed:\n$plan")
    assert(q.count() ==
      links.filter($"category" === "cat3").count())
    // round-trip keeps all rows across partitions
    assert(store.nodes("link").count() == links.count())
  }

  test("bucketed aggregation on dst needs no exchange") {
    val root = java.nio.file.Files.createTempDirectory("graftbucket2").toString
    val store = new GraphStore(spark, root)
    val hk = Seq(("a", "k1"), ("b", "k1"), ("c", "k2")).toDF("src", "dst")
    store.writeEdgesBucketed("HAS_KEYWORD", hk, buckets = 2)
    val agg = store.bucketedEdges("HAS_KEYWORD").groupBy("dst").count()
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed agg should not shuffle:\n$plan")
  }

  test("every spelling of a root reads the same bucketed edge table") {
    val root = java.nio.file.Files.createTempDirectory("graftbucket4").toString
    val hk = Seq(("a", "k1"), ("b", "k1"), ("c", "k2")).toDF("src", "dst")
    new GraphStore(spark, root).writeEdgesBucketed("HAS_KEYWORD", hk, buckets = 2)
    val other = new GraphStore(spark, "file:" + root).bucketedEdges("HAS_KEYWORD")
    assert(other.collect().toSet == hk.collect().toSet)
  }
}
