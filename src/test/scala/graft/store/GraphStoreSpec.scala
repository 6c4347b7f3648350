package graft.store

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraphStoreSpec extends SparkSpec {
  import spark.implicits._

  test("mergeByKey: insert-if-absent keeps existing untouched rows") {
    val existing = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    val incoming = Seq(("c", 3)).toDF("k", "v")
    val out = GraphStore.mergeByKey(existing, incoming, Seq("k"))
      .orderBy("k").as[(String, Int)].collect()
    assert(out.toSeq == Seq(("a", 1), ("b", 2), ("c", 3)))
  }

  test("mergeByKey: last-writer-wins on PK collision (SET semantics)") {
    val existing = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    val incoming = Seq(("a", 10), ("a", 11)).toDF("k", "v")
    val out = GraphStore.mergeByKey(existing, incoming, Seq("k"))
      .orderBy("k").as[(String, Int)].collect()
    // within one incoming batch, the later row wins (reference's
    // sequential MERGE..SET loop order)
    assert(out.toSeq == Seq(("a", 11), ("b", 2)))
  }

  test("mergeByKey is idempotent: merge(merge(e,i),i) == merge(e,i)") {
    val existing = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "v")
    val incoming = Seq(("b", 20), ("d", 4)).toDF("k", "v")
    val once = GraphStore.mergeByKey(existing, incoming, Seq("k"))
    val twice = GraphStore.mergeByKey(once, incoming, Seq("k"))
    assert(once.exceptAll(twice).count() == 0 && twice.exceptAll(once).count() == 0)
  }

  test("mergeByKey preserves PK uniqueness invariant") {
    val existing = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v") // dirty input
    val incoming = Seq(("a", 9), ("c", 4)).toDF("k", "v")
    val out = GraphStore.mergeByKey(existing, incoming, Seq("k"))
    assert(out.groupBy("k").count().filter($"count" > 1).count() == 0)
  }

  test("store round-trip: DDL, write, detachDelete, cleanOrphans") {
    val root = java.nio.file.Files.createTempDirectory("graftstore").toString
    val store = new GraphStore(spark, root)
    store.createNodeTable("link", graft.model.GraphSchema.dimension)
    store.createRelTable("BELONGS_TO")
    assert(store.showTables() == Seq(("link", "NODE"), ("BELONGS_TO", "REL")))

    store.writeNodes("link", Seq("u1", "u2", "u3").toDF("name"))
    store.createNodeTable("category", graft.model.GraphSchema.dimension)
    store.writeNodes("category", Seq("c1", "c2").toDF("name"))
    store.writeEdges("BELONGS_TO",
      Seq(("u1", "c1"), ("u2", "c1"), ("u3", "c2")).toDF("src", "dst"))

    // DETACH DELETE u3: node gone, its edge gone
    store.detachDelete("link", "name", Seq("u3").toDF("k"), Seq("BELONGS_TO"))
    assert(store.nodes("link").as[String].collect().sorted.toSeq == Seq("u1", "u2"))
    assert(store.edges("BELONGS_TO").count() == 2)

    // c2 is now an orphan: cleanOrphans removes it
    store.cleanOrphans("category", "BELONGS_TO")
    assert(store.nodes("category").as[String].collect().toSeq == Seq("c1"))
  }

  test("snapshots: versioned copies survive mutation; as-of reads time-travel") {
    val root = java.nio.file.Files.createTempDirectory("graftstore3").toString
    val store = new GraphStore(spark, root)
    store.writeNodes("link", Seq(("u1", 1), ("u2", 2)).toDF("name", "v"))
    val v1 = store.snapshotNodes("link")
    store.writeNodes("link",
      store.merge(store.nodes("link"), Seq(("u2", 20), ("u3", 3)).toDF("name", "v"), "name"))
    val v2 = store.snapshotNodes("link")
    assert(store.listSnapshots("link") == Seq(v1, v2) && v1 == 1 && v2 == 2)
    assert(store.nodesAsOf("link", v1).orderBy("name").as[(String, Int)].collect().toSeq
      == Seq(("u1", 1), ("u2", 2)))
    assert(store.nodesAsOf("link", v2).orderBy("name").as[(String, Int)].collect().toSeq
      == Seq(("u1", 1), ("u2", 20), ("u3", 3)))
    // latest face unaffected by snapshot reads
    assert(store.nodes("link").count() == 3)
  }

  test("compactNodes merges small files without changing contents") {
    val root = java.nio.file.Files.createTempDirectory("graftstore4").toString
    val store = new GraphStore(spark, root)
    // 8 partitions -> 8 files for 16 rows: the micro-batch small-file shape
    store.writeNodes("link", (1 to 16).map(i => (s"u$i", i)).toDF("name", "v").repartition(8))
    def files() = new java.io.File(s"$root/nodes/link").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files() >= 8)
    val before = store.nodes("link").orderBy("name").as[(String, Int)].collect().toSeq
    store.compactNodes("link", targetRows = 100L)
    assert(files() == 1, s"expected 1 file after compaction, got ${files()}")
    assert(store.nodes("link").orderBy("name").as[(String, Int)].collect().toSeq == before)
  }

  test("scd2Apply: changed keys close+reopen, identical updates are no-ops, " +
      "new keys insert; asOf reads the right version") {
    val hist = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "v")
      .withColumn("valid_from", lit(0L))
      .withColumn("valid_to", lit(null).cast("long"))
    // a changes, b is byte-identical (no-op), d is new; c untouched
    val upd = Seq(("a", 10), ("b", 2), ("d", 4)).toDF("k", "v")
      .withColumn("ts", lit(100L))
    val out = GraphStore.scd2Apply(hist, upd, Seq("k"), "ts")
    val rows = out.orderBy("k", "valid_from")
      .as[(String, Int, Long, Option[Long])].collect().toSeq
    assert(rows == Seq(
      ("a", 1, 0L, Some(100L)), ("a", 10, 100L, None),
      ("b", 2, 0L, None), ("c", 3, 0L, None), ("d", 4, 100L, None)))
    // point-in-time views straddle the update
    assert(GraphStore.scd2AsOf(out, 50L).orderBy("k")
      .as[(String, Int, Long, Option[Long])].collect().map(r => (r._1, r._2)).toSeq
      == Seq(("a", 1), ("b", 2), ("c", 3)))
    assert(GraphStore.scd2AsOf(out, 100L).orderBy("k")
      .as[(String, Int, Long, Option[Long])].collect().map(r => (r._1, r._2)).toSeq
      == Seq(("a", 10), ("b", 2), ("c", 3), ("d", 4)))
    // idempotent: re-applying the same batch (later ts) changes nothing
    val again = GraphStore.scd2Apply(out, upd.withColumn("ts", lit(200L)), Seq("k"), "ts")
    assert(again.orderBy("k", "valid_from")
      .as[(String, Int, Long, Option[Long])].collect().toSeq == rows)
  }

  test("scd2Lookup: each fact sees exactly the version valid at its own ts") {
    val hist = Seq(("a", 1), ("b", 2)).toDF("k", "v")
      .withColumn("valid_from", lit(0L))
      .withColumn("valid_to", lit(null).cast("long"))
    val upd = Seq(("a", 10)).toDF("k", "v").withColumn("ts", lit(100L))
    val h = GraphStore.scd2Apply(hist, upd, Seq("k"), "ts")
    val facts = Seq(("a", 50L), ("a", 100L), ("a", 150L), ("b", 50L),
      ("z", 50L)).toDF("k", "ts")
    val out = GraphStore.scd2Lookup(facts, h, Seq("k"), "ts")
      .select($"k", $"ts", $"v").as[(String, Long, Option[Int])]
      .collect().toSet
    assert(out == Set(
      ("a", 50L, Some(1)),    // before the update
      ("a", 100L, Some(10)),  // valid_from inclusive
      ("a", 150L, Some(10)),  // after
      ("b", 50L, Some(2)),    // untouched key
      ("z", 50L, None)))      // unknown key: left join keeps the fact
    // SCD-2 non-overlap => the lookup never fans a fact out
    assert(out.size == facts.count())
  }

  test("detachDelete removes edges where the deleted node is the dst too") {
    val root = java.nio.file.Files.createTempDirectory("graftstore2").toString
    val store = new GraphStore(spark, root)
    store.writeNodes("link", Seq("u1", "u2", "u3").toDF("name"))
    // LINKS_TO points Link→Link, so a deleted node can sit on either end
    store.writeEdges("LINKS_TO",
      Seq(("u1", "u3"), ("u3", "u2"), ("u1", "u2")).toDF("src", "dst"))
    store.detachDelete("link", "name", Seq("u3").toDF("k"), Seq("LINKS_TO"))
    assert(store.nodes("link").as[String].collect().sorted.toSeq == Seq("u1", "u2"))
    // both the outbound (u3→u2) and inbound (u1→u3) edges are gone
    assert(store.edges("LINKS_TO").as[(String, String)].collect().toSeq == Seq(("u1", "u2")))
  }

  test("materialize: reliable-staging override round-trips identically and severs file lineage") {
    // the cluster-reliability gate (r12 advisor item): with the
    // override set, staging goes through scratch parquet instead of
    // localCheckpoint — rows identical, plan reads the scratch copy
    val df = Seq((1L, "a"), (2L, "b"), (3L, null.asInstanceOf[String]))
      .toDF("id", "v")
    spark.conf.set("spark.graft.store.reliableStaging", "true")
    try {
      val m = GraphStore.materialize(spark, df)
      assert(m.collect().map(r => (r.getLong(0), Option(r.getString(1))))
        .sortBy(_._1).toSeq ==
        Seq((1L, Some("a")), (2L, Some("b")), (3L, None)))
      // staged copy must be its own files — re-reading is stable even
      // if the input's source were overwritten
      assert(m.queryExecution.analyzed.collectLeaves()
        .forall(_.toString.contains("parquet")))
    } finally spark.conf.unset("spark.graft.store.reliableStaging")
    // default (local/static) path stays the checkpoint
    val fast = GraphStore.materialize(spark, df)
    assert(fast.collect().length == 3)
  }

  // ---- reads resolved once per write: freshness and identity ----

  private def tempRoot(): String =
    java.nio.file.Files.createTempDirectory("graftstore_fresh").toString

  private def names(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.as[String].collect().toSeq.sorted

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.select("src", "dst").as[(String, String)].collect().toSet

  test("fresh root: created tables read back empty with their DDL schema") {
    val store = new GraphStore(spark, tempRoot())
    store.createNodeTable("link", graft.model.GraphSchema.link)
    store.createRelTable("HAS_KEYWORD")
    assert(store.nodes("link").count() == 0 && store.edges("HAS_KEYWORD").count() == 0)
    assert(store.nodes("link").columns.toSeq == graft.model.GraphSchema.link.fieldNames.toSeq)
    // idempotent DDL keeps the rows a later write put there
    store.writeEdges("HAS_KEYWORD", Seq(("u1", "k1")).toDF("src", "dst"))
    store.createRelTable("HAS_KEYWORD")
    assert(pairs(store.edges("HAS_KEYWORD")) == Set(("u1", "k1")))
  }

  test("every flat write primitive is visible to the next read") {
    val store = new GraphStore(spark, tempRoot())
    store.writeNodes("link", Seq("u1", "u2", "u3").toDF("name"))
    store.writeNodes("category", Seq("c1", "c2").toDF("name"))
    store.writeEdges("BELONGS_TO", Seq(("u1", "c1"), ("u3", "c2")).toDF("src", "dst"))
    assert(names(store.nodes("link")) == Seq("u1", "u2", "u3"))
    assert(pairs(store.edges("BELONGS_TO")) == Set(("u1", "c1"), ("u3", "c2")))

    store.writeNodes("link", Seq("u1", "u2", "u3", "u4").toDF("name"))
    assert(names(store.nodes("link")) == Seq("u1", "u2", "u3", "u4"))
    store.writeEdges("BELONGS_TO",
      Seq(("u1", "c1"), ("u3", "c2"), ("u4", "c1")).toDF("src", "dst"))
    assert(pairs(store.edges("BELONGS_TO")) == Set(("u1", "c1"), ("u3", "c2"), ("u4", "c1")))

    store.detachDelete("link", "name", Seq("u3").toDF("k"), Seq("BELONGS_TO"))
    assert(names(store.nodes("link")) == Seq("u1", "u2", "u4"))
    assert(pairs(store.edges("BELONGS_TO")) == Set(("u1", "c1"), ("u4", "c1")))

    store.cleanOrphans("category", "BELONGS_TO")
    assert(names(store.nodes("category")) == Seq("c1"))

    // compaction swaps in new files: a read still listing the old ones
    // would fail, one listing the new ones returns the same rows
    store.writeNodes("link", (1 to 12).map(i => s"u$i").toDF("name").repartition(6))
    val before = names(store.nodes("link"))
    store.compactNodes("link", targetRows = 100L)
    assert(names(store.nodes("link")) == before && before.size == 12)
  }

  test("partitioned writes and both branches of each bucketed upsert are visible") {
    val store = new GraphStore(spark, tempRoot())
    store.writeNodesPartitioned("page",
      Seq(("p1", "a"), ("p2", "b")).toDF("url", "category"), "category")
    assert(store.nodes("page").as[(String, String)].collect().toSet == Set(("p1", "a"), ("p2", "b")))
    store.writeNodesPartitioned("page", Seq(("p3", "c")).toDF("url", "category"), "category")
    assert(store.nodes("page").as[(String, String)].collect().toSeq == Seq(("p3", "c")))

    val buckets = 4
    store.writeNodes("link", Seq(("u1", "t1"), ("u2", "t2")).toDF("url", "title"))
    assert(store.nodes("link").count() == 2)
    // flat -> bucketed migration
    store.upsertNodesPartitioned("link", Seq(("u3", "t3")).toDF("url", "title"), "url", buckets)
    assert(store.nodes("link").as[(String, String)].collect().toSet ==
      Set(("u1", "t1"), ("u2", "t2"), ("u3", "t3")))
    // touched-bucket rewrite
    store.upsertNodesPartitioned("link",
      Seq(("u1", "T1"), ("u4", "t4")).toDF("url", "title"), "url", buckets)
    assert(store.nodes("link").as[(String, String)].collect().toSet ==
      Set(("u1", "T1"), ("u2", "t2"), ("u3", "t3"), ("u4", "t4")))

    store.createRelTable("HAS_KEYWORD")
    assert(store.edges("HAS_KEYWORD").count() == 0)
    store.upsertEdgesPartitioned("HAS_KEYWORD",
      Seq(("u1", "k1"), ("u2", "k1")).toDF("src", "dst"), buckets)
    assert(pairs(store.edges("HAS_KEYWORD")) == Set(("u1", "k1"), ("u2", "k1")))
    store.upsertEdgesPartitioned("HAS_KEYWORD",
      Seq(("u1", "k1"), ("u3", "k2")).toDF("src", "dst"), buckets)
    assert(pairs(store.edges("HAS_KEYWORD")) == Set(("u1", "k1"), ("u2", "k1"), ("u3", "k2")))

    // the touched-bucket read still prunes partitions at planning time
    val touched = store.table(store.nodePath("link")).filter($"__bucket".isin(1, 2))
    touched.collect()
    assert(touched.queryExecution.executedPlan.toString
      .matches("(?s).*PartitionFilters: \\[[^\\]]*__bucket[^\\]]*\\].*"))
  }

  test("a second store on the same root sees the first one's writes") {
    val root = tempRoot()
    val writer = new GraphStore(spark, root)
    writer.writeNodes("keyword", Seq("k1").toDF("name"))
    // a qualified spelling of the same root names the same tables
    val reader = new GraphStore(spark, "file:" + root)
    assert(names(reader.nodes("keyword")) == Seq("k1"))
    writer.writeNodes("keyword", Seq("k1", "k2").toDF("name"))
    assert(names(reader.nodes("keyword")) == Seq("k1", "k2"))
    reader.writeNodes("keyword", Seq("k3").toDF("name"))
    assert(names(writer.nodes("keyword")) == Seq("k3"))
  }

  test("two reads of one table self-join like two parquet reads") {
    val store = new GraphStore(spark, tempRoot())
    val edges = Seq(("u1", "k1"), ("u2", "k1"), ("u3", "k1"), ("u2", "k2"), ("u3", "k2"),
      ("u4", "k3")).toDF("src", "dst")
    store.writeEdges("HAS_KEYWORD", edges)
    store.writeEdges("BELONGS_TO",
      Seq(("u1", "c1"), ("u2", "c2"), ("u3", "c1"), ("u4", "c2")).toDF("src", "dst"))
    val path = store.edgePath("HAS_KEYWORD")
    def selfJoin(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      x.as("x").join(y.as("y"), $"x.dst" === $"y.dst" && $"x.src" < $"y.src")
        .select($"x.src", $"y.src").as[(String, String)].collect().toSeq.sorted
    val expected = selfJoin(spark.read.parquet(path), spark.read.parquet(path))
    assert(expected.size == 4)
    assert(selfJoin(store.edges("HAS_KEYWORD"), store.edges("HAS_KEYWORD")) == expected)
    val q = graft.query.GraphQueries.interconnections(
      store.edges("HAS_KEYWORD"), store.edges("BELONGS_TO"))
    val ref = graft.query.GraphQueries.interconnections(
      spark.read.parquet(path), spark.read.parquet(store.edgePath("BELONGS_TO")))
    assert(q.collect().toSet == ref.collect().toSet && q.count() > 0)
  }

  test("the schema a write hands the reader equals the inferred schema") {
    val store = new GraphStore(spark, tempRoot())
    def same(path: String): Unit = {
      val handed = store.table(path).schema
      val inferred = spark.read.parquet(path).schema
      assert(handed == inferred, s"$path\nhanded:   $handed\ninferred: $inferred")
    }
    // flat, with non-nullable DDL fields and an array column
    store.createNodeTable("link", graft.model.GraphSchema.link)
    same(store.nodePath("link"))
    val link = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row("https://a.example/", "c1", "t", Seq("k1", "k2"),
        null, null, "c1", null, "raw", "clean"))), graft.model.GraphSchema.link)
    store.writeNodes("link", link)
    same(store.nodePath("link"))
    store.createRelTable("HAS_KEYWORD")
    same(store.edgePath("HAS_KEYWORD"))
    // hive-partitioned on a column that is not last
    store.writeNodesPartitioned("page",
      Seq(("a", "p1", 1), ("b", "p2", 2)).toDF("category", "url", "rank"), "category")
    same(store.nodePath("page"))
    // bucketed layout: migration and touched-bucket rewrite
    store.upsertNodesPartitioned("link", link.withColumn("title", lit("t2")), "url", 4)
    same(store.nodePath("link"))
    store.upsertNodesPartitioned("link", link.withColumn("url", lit("https://b.example/")),
      "url", 4)
    same(store.nodePath("link"))
    store.upsertEdgesPartitioned("HAS_KEYWORD", Seq(("u1", "k1")).toDF("src", "dst"), 4)
    same(store.edgePath("HAS_KEYWORD"))
    store.upsertEdgesPartitioned("HAS_KEYWORD", Seq(("u2", "k1")).toDF("src", "dst"), 4)
    same(store.edgePath("HAS_KEYWORD"))
  }
}
