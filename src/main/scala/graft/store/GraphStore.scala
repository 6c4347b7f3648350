package graft.store

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Parquet-backed labeled-property-graph store.
  *
  * Plays the role Kùzu plays in the reference (notebook/Edits.ipynb:
  * 1110-1165 DDL + MERGE load; dockerapp/app/main.py:20-34): node and
  * rel tables addressed by label, a PK per node table, idempotent
  * upsert, cascade delete and orphan cleanup — but set-oriented: every
  * write primitive is a whole-DataFrame job, not a row loop.
  *
  * Layout (SURVEY §1.3): `<root>/nodes/<label>/` and
  * `<root>/edges/<relType>/` as Parquet directories. At cluster scale
  * each table is just a Parquet dataset: node tables are written
  * partitioned only when large (Link), dimension tables stay single
  * footer so Catalyst broadcast-joins them for free.
  *
  * Reads are resolved once per write, like the catalog of an embedded
  * database: each table's parquet relation (file listing + schema) is
  * resolved when the store writes the table — from the schema it just
  * wrote, no inference job — and every [[nodes]]/[[edges]] call wraps
  * that relation in a fresh plan, running no job and listing no files.
  * A table this session has not written yet is resolved by inference
  * on first read.
  *
  * Read results are cached per table version: [[cachedRead]] keeps the
  * frames of a named read (a serving request's answer) persisted until
  * the store next writes one of the tables they read, and that write
  * drops them before it replaces the table. Repeated reads between two
  * writes therefore scan the cached rows, not the parquet files. The
  * trade: a cached frame is held in executor storage (memory, spilling
  * to disk), and it is as large as the frame the caller collects.
  *
  * The resolved relations and the cached reads are shared by every
  * store on the same root in a session, so within a session GraphStore
  * must be the only writer of its root, and a cached read must not race
  * a write of a table it reads: a file written behind the store's back
  * stays invisible, to plain and cached reads alike, until the store
  * next writes that table.
  */
final class GraphStore(spark: SparkSession, root: String) {

  private def hadoopConf = spark.sessionState.newHadoopConf()

  // qualified once, so every store on this root keys its tables alike
  private lazy val qualifiedRoot = {
    val p = new Path(root)
    p.getFileSystem(hadoopConf).makeQualified(p).toString
  }
  private[store] def nodePath(label: String) = s"$qualifiedRoot/nodes/$label"
  private[store] def edgePath(relType: String) = s"$qualifiedRoot/edges/$relType"

  // ---- DDL / catalog (reference S8: CREATE NODE TABLE / show_tables) ----

  /** Create a node table by writing an empty DataFrame with the given
    * schema. Idempotent: existing tables are left untouched. */
  def createNodeTable(label: String, schema: StructType): Unit =
    createTable(nodePath(label), schema)

  def createRelTable(relType: String): Unit =
    createTable(edgePath(relType), graft.model.GraphSchema.edge)

  private def createTable(path: String, schema: StructType): Unit =
    if (!exists(path))
      commitTable(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema), path)

  /** `CALL show_tables()` analog (reference Edits.ipynb:1139,1157).
    * Goes through the Hadoop FileSystem API like every other store op,
    * so the catalog listing works on any supported root (HDFS/S3/...),
    * not just local paths. */
  def showTables(): Seq[(String, String)] = {
    val conf = hadoopConf
    def list(dir: String, kind: String): Seq[(String, String)] = {
      val p = new Path(s"$root/$dir")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).filter(_.isDirectory).map(s => (s.getPath.getName, kind)).toSeq.sorted
    }
    list("nodes", "NODE") ++ list("edges", "REL")
  }

  private def exists(path: String): Boolean = {
    val hPath = new Path(path)
    hPath.getFileSystem(hadoopConf).exists(hPath)
  }

  /** A table as stored, layout column included: a fresh plan over the
    * table's resolved relation (fresh attribute ids, so two reads of
    * one table self-join like two `spark.read.parquet` calls). */
  private[store] def table(path: String): DataFrame =
    spark.baseRelationToDataFrame(GraphStore.relation(spark, path))

  /** Reads hide the physical layout: a table stored hash-partitioned
    * (see [[upsertNodesPartitioned]]) carries a `__bucket` hive
    * partition column that is layout metadata, not graph data — every
    * consumer sees the same logical schema either way. */
  private def dropLayout(df: DataFrame): DataFrame =
    if (df.columns.contains(BucketCol)) df.drop(BucketCol) else df

  def nodes(label: String): DataFrame = dropLayout(table(nodePath(label)))
  def edges(relType: String): DataFrame = dropLayout(table(edgePath(relType)))

  /** A named read whose result stays cached until the store next
    * writes a table it reads (the `labels` node tables and `relTypes`
    * edge tables). The first call returns the frames `build` makes,
    * each persisted (lazily: no job runs until the caller collects
    * them); later calls with the same `name` on the same root return
    * those frames again, so collecting them scans the cached rows. The
    * `name` identifies the read, parameters included: two reads under
    * one name must build the same frames. A frame built over an
    * earlier frame of the same `build` reads that frame's cache. */
  def cachedRead(name: String, labels: Seq[String], relTypes: Seq[String])(
      build: => Seq[DataFrame]): Seq[DataFrame] =
    GraphStore.stateOf(spark).reads.computeIfAbsent((qualifiedRoot, name), _ =>
      GraphStore.CachedRead((labels.map(nodePath) ++ relTypes.map(edgePath)).toSet,
        build.map(_.persist(StorageLevel.MEMORY_AND_DISK)))).frames

  def writeNodes(label: String, df: DataFrame): Unit = commitTable(df, nodePath(label))
  def writeEdges(relType: String, df: DataFrame): Unit = commitTable(df, edgePath(relType))

  /** The one way the store writes a table, the only place a table's
    * relation is replaced and the only place cached reads are dropped.
    *
    * Every [[cachedRead]] of the table is dropped first, before the
    * write and before `refreshByPath`: refreshing a path re-plans every
    * cached frame that reads it, so a frame about to go stale would
    * cost a re-plan per write.
    *
    * A whole-table write stages into a temp dir and then swaps it in:
    * overwriting the table we are also reading from would delete the
    * input mid-scan. Single-writer discipline is assumed (as in the
    * reference's embedded Kùzu). With `onlyWrittenPartitions` the write
    * goes straight into the table with dynamic partition overwrite,
    * replacing just the partitions present in `df` (Spark stages those
    * itself). Either way the table is then re-resolved from the data
    * schema just written, so the next read runs no inference job; the
    * partition columns are still inferred from the directory names, as
    * a plain parquet read does, which runs no job either. */
  private def commitTable(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      onlyWrittenPartitions: Boolean = false): Unit = {
    GraphStore.dropCachedReads(spark, path)
    val writer = df.write.mode("overwrite").partitionBy(partitionBy: _*)
    if (onlyWrittenPartitions) {
      writer.option("partitionOverwriteMode", "dynamic").parquet(path)
    } else {
      val tmp = path + "__staging"
      writer.parquet(tmp)
      val fs = new Path(path).getFileSystem(hadoopConf)
      fs.delete(new Path(path), true)
      fs.rename(new Path(tmp), new Path(path))
    }
    // the shared FileStatusCache may still list the replaced part
    // files; without this, the next read throws FAILED_READ_FILE
    spark.catalog.refreshByPath(path)
    GraphStore.resolved(spark, path, spark.read
      .schema(StructType(df.schema.filterNot(f => partitionBy.contains(f.name))))
      .parquet(path))
  }

  /** Write a node table hive-partitioned by a column (the "large
    * node table" layout from SURVEY §1.3 — e.g. Link partitioned by
    * category): equality/IN filters on the partition column prune
    * whole directories at planning time (`PartitionFilters` in the
    * scan, no data files touched for pruned partitions). Dimension
    * tables should stay unpartitioned single-footer datasets. */
  def writeNodesPartitioned(label: String, df: DataFrame, partitionCol: String): Unit =
    commitTable(df, nodePath(label), Seq(partitionCol))

  // ---- partition-pruned upsert (the 100 TB write path) ----

  private val BucketCol = "__bucket"

  private def bucketExpr(pk: String, buckets: Int): Column =
    pmod(xxhash64(col(pk)), lit(buckets)).cast("int")

  /** Hash-partitioned node upsert: the table lives hive-partitioned by
    * `__bucket` = hash(pk) mod `buckets`, and a batch REWRITES ONLY the
    * bucket directories its keys hash into — dynamic partition
    * overwrite replaces exactly the partitions present in the merged
    * output, so untouched buckets' files are never opened, rewritten,
    * or re-committed. This is the scale-safe form of the
    * merge-then-overwrite in [[GraphService.upsertStaged]]: a 5-row
    * upload against a 100 TB link table costs O(5 buckets of data),
    * not O(store) (the reference's save_to_csv-after-every-write is
    * O(store) per mutation, main.py:157-178 — parity-faithful but not
    * the shape you deploy).
    *
    * Merge semantics are IDENTICAL to [[GraphStore.mergeByKey]] (the
    * J7 last-writer-wins contract): a key's rows all hash to one
    * bucket, so per-bucket merge == global merge. A table still in the
    * flat layout is migrated on first use (one full rewrite, one-time).
    * The merged batch is staged through a scratch parquet before the
    * overwrite (same WAL discipline as [[commitTable]]) because
    * its plan reads the very partition files the commit replaces. */
  def upsertNodesPartitioned(label: String, incoming: DataFrame, pk: String,
      buckets: Int): Unit = {
    val path = nodePath(label)
    val current = table(path)
    if (!current.columns.contains(BucketCol)) {
      // one-time layout migration: flat → hash-partitioned. An empty
      // merge stays flat — a zero-row partitionBy write leaves a
      // directory with no footer to infer a schema from.
      val all = GraphStore.materialize(spark,
        GraphStore.mergeByKey(current, incoming, Seq(pk))
          .withColumn(BucketCol, bucketExpr(pk, buckets)))
      if (!all.isEmpty) writeNodesPartitioned(label, all, BucketCol)
    } else {
      val inc = incoming.withColumn(BucketCol, bucketExpr(pk, buckets))
      // the touched-bucket set is ≤ min(batch, buckets) ints — bounded
      // by the layout constant, never the corpus
      val touched = inc.select(col(BucketCol)).distinct()
        .collect().map(_.getInt(0)).toSeq
      if (touched.nonEmpty) {
        val existingTouched = current.filter(col(BucketCol).isin(touched: _*))
        val merged = GraphStore.materialize(spark,
          GraphStore.mergeByKey(existingTouched, inc, Seq(pk)))
        commitTable(merged, path, Seq(BucketCol), onlyWrittenPartitions = true)
      }
    }
  }

  /** Edge-table analog of [[upsertNodesPartitioned]]: edges live
    * hash-partitioned by `__bucket` = hash(src) mod `buckets`, and the
    * set-union-distinct MERGE ([[mergeEdges]]) runs per touched bucket
    * only. Same one-time flat→partitioned migration. */
  def upsertEdgesPartitioned(relType: String, incoming: DataFrame,
      buckets: Int): Unit = {
    val path = edgePath(relType)
    val current = table(path)
    val inc = incoming.select(col("src"), col("dst"))
    if (!current.columns.contains(BucketCol)) {
      val all = GraphStore.materialize(spark,
        mergeEdges(current, inc).withColumn(BucketCol, bucketExpr("src", buckets)))
      if (!all.isEmpty) commitTable(all, path, Seq(BucketCol))
    } else {
      val incB = inc.withColumn(BucketCol, bucketExpr("src", buckets))
      val touched = incB.select(col(BucketCol)).distinct()
        .collect().map(_.getInt(0)).toSeq
      if (touched.nonEmpty) {
        val existingTouched = current.filter(col(BucketCol).isin(touched: _*))
        val merged = GraphStore.materialize(spark,
          existingTouched.select(col("src"), col("dst"), col(BucketCol))
            .unionByName(incB).distinct())
        commitTable(merged, path, Seq(BucketCol), onlyWrittenPartitions = true)
      }
    }
  }

  // ---- bucketed physical layout (SURVEY §4) ----

  /** Write an edge table bucketed (and sorted) by `dst`, so joins on
    * the keyword key — the flagship self-join in particular — read
    * co-partitioned buckets and skip the shuffle entirely on repeat
    * queries. Registered as an external table (bucket metadata lives
    * in the session catalog; the parquet stays under the store root).
    *
    * At 100 TB this is the difference between shuffling the full edge
    * set per query and a zero-exchange sort-merge join; bucket count
    * should be sized to (edges / target partition size). */
  def writeEdgesBucketed(relType: String, df: DataFrame, buckets: Int): Unit = {
    val table = bucketTable(relType)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    df.select("src", "dst").write
      .mode("overwrite")
      .bucketBy(buckets, "dst")
      .sortBy("dst")
      .option("path", s"$root/edges_bucketed/$relType")
      .format("parquet")
      .saveAsTable(table)
  }

  /** Read the bucketed face of an edge table (bucket-aware: joins and
    * aggregations on `dst` need no exchange). */
  def bucketedEdges(relType: String): DataFrame =
    spark.table(bucketTable(relType))

  /** Catalog name scoped by the qualified store root — two stores on
    * different roots must not clobber each other's bucket-table
    * entries, and every spelling of one root names the same table. */
  private def bucketTable(relType: String): String =
    "graft_edges_" + java.lang.Integer.toHexString(qualifiedRoot.hashCode) + "_" +
      relType.toLowerCase.replaceAll("[^a-z0-9_]", "_")

  // ---- write primitives (set-oriented rewrites of the reference's
  //      per-row Cypher MERGE loops) ----

  /** Node upsert with last-writer-wins SET semantics — the engine's
    * core write primitive (reference J7: MERGE ... SET, Edits.ipynb:
    * 1256-1262, main.py:119-134).
    *
    * `incoming` rows replace `existing` rows with the same `pk`; within
    * `incoming`, later rows (higher position) win, so
    * `merge(merge(e, a), b) == merge(e, a ++ b)` and the whole thing is
    * idempotent. Implemented as union + row_number window over the PK —
    * one shuffle on the PK, no driver-side loop; at 100 TB this is a
    * standard hash-partitioned dedup and AQE handles skew.
    */
  def merge(existing: DataFrame, incoming: DataFrame, pk: String): DataFrame =
    GraphStore.mergeByKey(existing, incoming, Seq(pk))

  /** Edge upsert: set-union with dedup on (src, dst) — edges carry no
    * properties in the reference so MERGE degenerates to distinct. */
  def mergeEdges(existing: DataFrame, incoming: DataFrame): DataFrame =
    existing.select("src", "dst").unionByName(incoming.select("src", "dst")).distinct()

  /** DETACH DELETE analog (reference G2, main.py:490): remove nodes
    * with the given keys and every edge touching them — anti-joined on
    * BOTH endpoints, so rel types pointing *at* the deleted label drop
    * their dangling edges too (batch anti-join form, not a per-row
    * filter; the key set is small → both anti-joins broadcast). */
  def detachDelete(label: String, pk: String, keys: DataFrame, relTypes: Seq[String]): Unit = {
    val keyCol = keys.columns.head
    val keyDf = keys.select(col(keyCol).as("__key")).distinct()
    writeNodes(label, nodes(label).join(keyDf, col(pk) === col("__key"), "left_anti"))
    relTypes.foreach { rt =>
      writeEdges(rt, edges(rt)
        .join(keyDf, col("src") === col("__key"), "left_anti")
        .join(keyDf, col("dst") === col("__key"), "left_anti"))
    }
  }

  /** Orphan cleanup (reference J5/G3, Edits.ipynb:1443-1444): delete
    * dimension nodes with no inbound edge. Pure anti-join — the GraphX
    * degree-based variant lives in graft.graphx.GraphOps. */
  def cleanOrphans(dimLabel: String, relType: String): Unit = {
    val kept = nodes(dimLabel)
      .join(edges(relType).select(col("dst")).distinct(), col("name") === col("dst"), "left_semi")
    writeNodes(dimLabel, kept)
  }

  // ---- snapshots / time travel ----

  private def snapPath(label: String, v: Int) = s"$root/snapshots/$label/v=$v"

  /** Snapshot the current state of a node table: an immutable copy
    * under `snapshots/<label>/v=N` (N monotonically increasing). The
    * generalization of the reference's save_to_csv-after-mutation
    * habit (main.py:137,162): version the table, not just the latest
    * export. File-level copy via the Hadoop FileSystem — no recompute,
    * works on any supported root. Returns the new version. */
  def snapshotNodes(label: String): Int = {
    val conf = hadoopConf
    val src = new Path(nodePath(label))
    val fs = src.getFileSystem(conf)
    val v = listSnapshots(label).lastOption.getOrElse(0) + 1
    val dst = new Path(snapPath(label, v))
    fs.mkdirs(dst.getParent)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
    v
  }

  /** Read a node table as of a snapshot version (time travel). */
  def nodesAsOf(label: String, v: Int): DataFrame =
    spark.read.parquet(snapPath(label, v))

  /** Available snapshot versions of a node table, ascending. */
  def listSnapshots(label: String): Seq[Int] = {
    val p = new Path(s"$root/snapshots/$label")
    val fs = p.getFileSystem(hadoopConf)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toInt).toSeq.sorted
  }

  // ---- compaction ----

  /** Compact a node table's small files: rewrite at ~`targetRows` rows
    * per file (the small-files problem — a micro-batch upsert loop
    * leaves one file per batch per partition, and at scale the
    * metadata/open cost dominates scans). One repartition job through
    * the staged-overwrite path, contents unchanged. */
  def compactNodes(label: String, targetRows: Long = 1000000L): Unit = {
    val df = nodes(label)
    val n = df.count()
    val files = math.max(1, math.ceil(n.toDouble / targetRows).toInt)
    writeNodes(label, df.repartition(files))
  }
}

object GraphStore {

  /** A cached read: the table paths it read and its persisted frames. */
  private final case class CachedRead(paths: Set[String], frames: Seq[DataFrame])

  /** A session's store state: each table's resolved parquet relation,
    * keyed by qualified table path, and each cached read, keyed by
    * qualified root and name — so every store on one root in a session
    * shares both. The maps are concurrent: the ingest commits write
    * their five tables from five threads. */
  private final class SessionState {
    val relations = new ConcurrentHashMap[String, HadoopFsRelation]()
    val reads = new ConcurrentHashMap[(String, String), CachedRead]()
  }

  /** Sessions are held weakly, as in [[graft.DerivedCache]]; relations
    * and frames reference their session, so a session's state is also
    * dropped when its context stops. */
  private val sessions = new java.util.WeakHashMap[SparkSession, SessionState]()

  private def stateOf(spark: SparkSession): SessionState =
    sessions.synchronized {
      var st = sessions.get(spark)
      if (st == null) {
        st = new SessionState
        sessions.put(spark, st)
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
            sessions.synchronized(sessions.remove(spark))
        })
      }
      st
    }

  /** Drop every cached read of `path`. A read's frames are unpersisted
    * in reverse build order: unpersisting a frame re-plans each cached
    * frame built over it whose rows are not cached yet, so the frames
    * built later go first. */
  private def dropCachedReads(spark: SparkSession, path: String): Unit = {
    val reads = stateOf(spark).reads
    reads.forEach { (key, read) =>
      if (read.paths(path) && reads.remove(key, read))
        read.frames.reverseIterator.foreach(_.unpersist(blocking = false))
    }
  }

  private def relationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
    }.get

  /** A table's relation: the one its last commit resolved, else
    * resolved by schema inference on this first read. A commit that
    * races the first read keeps its relation. */
  private def relation(spark: SparkSession, path: String): HadoopFsRelation = {
    val m = stateOf(spark).relations
    Option(m.get(path)).getOrElse {
      val inferred = relationOf(spark.read.parquet(path))
      Option(m.putIfAbsent(path, inferred)).getOrElse(inferred)
    }
  }

  /** Replace a table's relation with the one `df` reads. */
  private def resolved(spark: SparkSession, path: String, df: DataFrame): Unit =
    stateOf(spark).relations.put(path, relationOf(df))

  /** Materialize a DataFrame, severing its lineage from any store
    * files it was derived from. Required before a read-modify-write
    * cycle that overwrites tables the plan still references (a lazy
    * plan holds the OLD file list; executing it after the swap throws
    * FAILED_READ_FILE).
    *
    * Implemented as an eager localCheckpoint: rows are computed NOW
    * into block-manager storage (MEMORY_AND_DISK) and the returned
    * plan is a LogicalRDD with no file lineage — the same severing
    * guarantee the previous scratch-parquet round-trip provided,
    * without paying a parquet encode + fs commit + decode per staged
    * table (the ingest path stages 5 tables per micro-batch; the swap
    * cut q_o4's guarded ingest from 10.9 s to ~7 s at sf0.1). Blocks
    * are reclaimed by the ContextCleaner once the staged frame is
    * unreferenced, unlike the scratch dirs, which leaked until /tmp
    * cleanup. Durability is unchanged: staging was always in-session
    * scratch; the store's WAL discipline lives in commitTable.
    *
    * Cluster caveat (the round-12 advisor's reliability note):
    * localCheckpoint blocks are NON-REPLICATED executor storage with
    * truncated lineage — on a cluster that can LOSE executors
    * mid-write (dynamic allocation, decommissioning), a lost block is
    * unrecoverable and the read-modify-write fails after some tables
    * may already be swapped. So the fast path is gated: when
    * spark.dynamicAllocation.enabled (or the explicit override
    * spark.graft.store.reliableStaging=true) the staging falls back to
    * a reliable scratch-parquet round-trip, which survives executor
    * loss. Local/static-allocation sessions — every bench/verify rig —
    * keep the fast path. */
  def materialize(spark: SparkSession, df: DataFrame): DataFrame = {
    val conf = spark.sparkContext.getConf
    val reliable = spark.conf
      .getOption("spark.graft.store.reliableStaging")
      .map(_.toBoolean)
      .getOrElse(conf.getBoolean("spark.dynamicAllocation.enabled",
        defaultValue = false))
    if (!reliable) df.localCheckpoint(true)
    else {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_stage").toString
      df.write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
  }

  /** SCD-2 (slowly-changing-dimension, type 2) temporal merge: apply a
    * batch of dimension updates while KEEPING history. `history` rows
    * carry `valid_from`/`valid_to` (epoch-µs longs; `valid_to` null =
    * current); `updates` carries the same key+attribute columns plus
    * `tsCol`, the effective time of the new version.
    *
    * Semantics per key: if the incoming attributes differ from the
    * current (open) row — null-safe struct comparison — the open row is
    * closed at the update's ts and a new open row starts there; if they
    * are identical the update is a no-op (idempotent re-apply); a key
    * with no open row simply starts one. Closed history rows pass
    * through untouched, so the expensive part is ONE shuffle of the
    * open set + dedup of the update batch on the key — the plan that
    * survives a 100 TB dimension with billions of closed rows (those
    * never join). This is the reference's last-writer-wins MERGE..SET
    * (Edits.ipynb:1256-1262) upgraded to keep the overwritten versions
    * queryable via [[scd2AsOf]] — the table-versioned cousin of the
    * file-level snapshots above. */
  def scd2Apply(history: DataFrame, updates: DataFrame, keys: Seq[String],
      tsCol: String): DataFrame = {
    val attrCols = history.columns.toSeq
      .filterNot(c => keys.contains(c) || c == "valid_from" || c == "valid_to")
    val open = history.filter(col("valid_to").isNull)
      .withColumn("__has_old", lit(true))
    val closedRows = history.filter(col("valid_to").isNotNull)
    // one update per key: latest ts wins, then batch position (same
    // contract as mergeByKey for in-batch duplicates)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).desc, col("__seq").desc)
    val u = updates.withColumn("__seq", monotonically_increasing_id())
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(keys.map(col) ++ attrCols.map(c => col(c).as(s"__u_$c"))
        :+ col(tsCol).cast("long").as("__u_ts"): _*)
    val j = open.join(u, keys, "full_outer")
    val hasOld = col("__has_old").isNotNull
    val hasNew = col("__u_ts").isNotNull
    val changed = !(struct(attrCols.map(col): _*) <=>
      struct(attrCols.map(c => col(s"__u_$c")): _*))
    def oldOut(vt: Column) = struct(
      (keys ++ attrCols).map(c => col(c).as(c))
        :+ col("valid_from").as("valid_from") :+ vt.as("valid_to"): _*)
    def newOut = struct(
      keys.map(c => col(c).as(c)) ++ attrCols.map(c => col(s"__u_$c").as(c))
        :+ col("__u_ts").as("valid_from")
        :+ lit(null).cast("long").as("valid_to"): _*)
    val out = j.select(explode(
      when(!hasNew, array(oldOut(lit(null).cast("long"))))
        .when(!hasOld, array(newOut))
        .when(changed, array(oldOut(col("__u_ts")), newOut))
        .otherwise(array(oldOut(lit(null).cast("long"))))).as("__r"))
      .select("__r.*")
    closedRows.unionByName(out)
  }

  /** Point-in-time view of an SCD-2 history: the version of each key
    * valid at `tsUs` (partition-prunable filter, no join). */
  def scd2AsOf(history: DataFrame, tsUs: Long): DataFrame =
    history.filter(col("valid_from") <= tsUs &&
      (col("valid_to").isNull || col("valid_to") > tsUs))

  /** Per-row point-in-time lookup against an SCD-2 history — the
    * warehouse temporal-join pattern [[scd2AsOf]] can't express (each
    * fact row carries its OWN event time): left-join each fact to the
    * version whose [valid_from, valid_to) interval contains its
    * `tsCol`. The SCD-2 non-overlap invariant guarantees at most one
    * match per fact, so the join never fans out.
    *
    * Scale shape: a hash EQUI-join on the business key with the
    * validity band as a residual filter — never a range join; the key
    * carries all the selectivity and Spark plans the standard
    * broadcast/shuffled hash join. Facts with no valid version (too
    * early, unknown key) keep null history columns. */
  def scd2Lookup(facts: DataFrame, history: DataFrame, keys: Seq[String],
      tsCol: String): DataFrame = {
    val f = facts.alias("__f")
    val h = history.alias("__h")
    val cond = keys.map(k => col(s"__f.$k") === col(s"__h.$k")).reduce(_ && _) &&
      col("__h.valid_from") <= col(s"__f.$tsCol") &&
      (col("__h.valid_to").isNull || col(s"__f.$tsCol") < col("__h.valid_to"))
    val hCols = history.columns.filterNot(keys.contains)
      .map(c => col(s"__h.$c"))
    f.join(h, cond, "left")
      .select((facts.columns.map(c => col(s"__f.$c")) ++ hCols).toIndexedSeq: _*)
  }

  /** Last-writer-wins keyed upsert as a pure DataFrame transform (the
    * testable core of [[GraphStore.merge]]). `existing` gets batch seq
    * 0; `incoming` rows are ranked by their position so that a later
    * duplicate inside one batch wins — matching the reference's
    * sequential per-row MERGE..SET loop semantics deterministically
    * under shuffle (SURVEY §7 "hard parts").
    */
  def mergeByKey(existing: DataFrame, incoming: DataFrame, pk: Seq[String]): DataFrame = {
    val cols = existing.columns.toSeq
    require(incoming.columns.toSeq.sorted == cols.sorted,
      s"schema mismatch: ${incoming.columns.toSeq} vs $cols")
    // monotonically_increasing_id is (partitionId << 33 | offset): not
    // dense but strictly increasing in row order within a partition,
    // which is the only ordering contract the reference loop had.
    val e = existing.withColumn("__seq", lit(0L))
    val i = incoming.withColumn("__seq", monotonically_increasing_id() + 1)
    val w = Window.partitionBy(pk.map(col): _*).orderBy(col("__seq").desc)
    e.unionByName(i)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(cols.map(col): _*)
  }
}
