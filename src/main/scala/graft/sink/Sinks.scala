package graft.sink

import java.util.Locale

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.functions.{col, count, lit}

/** Table sinks (reference A14-A15: idempotent DDL + batched insert,
  * sqlite_connector.py:131-222), and the one place a sink write is
  * issued: [[Connectors]] only parses its params and calls in here.
  *
  * The reference's SQLite sink becomes three Spark-native options:
  *  - [[saveTable]]: managed table (append = the reference's
  *    insert-into-existing semantics; DDL-if-absent is implicit).
  *    Parquet under the hood — the 100 TB path, partitioned by any
  *    caller-supplied columns.
  *  - [[saveParquet]]: plain parquet directory sink.
  *  - [[saveJdbc]]: JDBC batch insert, `batchsize` mirroring the
  *    reference's executemany batch_size=1000. Per-partition
  *    transactions (weaker than the reference's single global
  *    commit+rollback — documented; stage to a temp table for exactly-
  *    once).
  *
  * A counted write — [[saveTable]], or a connector's write through
  * [[counted]] — returns the rows written (insert_data's return, A19
  * metrics) via `observe()`: ONE pass over the data, not a count scan
  * plus a write scan. [[counted]] holds the one `SaveMode.Ignore` guard.
  */
object Sinks {

  /** Runs `write` over `df` with its row count observed and returns the
    * count. Refuses `SaveMode.Ignore`: a write it skips never fills the
    * observation, and `get` would block forever — check the target's
    * existence and pick `Append` or `Overwrite`.
    */
  private[sink] def counted(df: DataFrame, mode: SaveMode)(write: DataFrame => Unit): Long = {
    require(mode != SaveMode.Ignore,
      "SaveMode.Ignore is not supported by counted writes (a skipped write has no row count); " +
        "check target existence explicitly and use Append or Overwrite")
    val obs = Observation()
    write(df.observe(obs, count(lit(1)).as("n")))
    obs.get("n").asInstanceOf[Long]
  }

  /** Returns the row count written, counted by [[counted]].
    *
    * Creating a table, and `Overwrite`, go through `saveAsTable`. An
    * `Append` to an existing parquet table of the session catalog goes
    * through `insertInto`, with the batch's columns selected by name in
    * the table's order from the catalog entry (which lists no files).
    * `saveAsTable`'s append runs as a create-table-as-select
    * (`DataSource.writeAndRead`): it lists the whole table directory at
    * analysis, again when the write refreshes its file index and again
    * when `writeAndRead` resolves the relation, then drops the cached
    * relation. `insertInto` reuses the cached relation and lists the
    * table once, when it refreshes that relation after the write — so a
    * batch's commit no longer grows with the table. The append keeps
    * `saveAsTable`'s checks: the batch must carry exactly the table's
    * columns (in any order), and `partitionBy` must be the table's
    * partitioning (none for an unpartitioned table).
    */
  def saveTable(df: DataFrame, table: String,
      partitionBy: Seq[String] = Nil, mode: SaveMode = SaveMode.Append): Long =
    counted(df, mode) { observed =>
      (if (mode == SaveMode.Append) appendTarget(df.sparkSession, table) else None) match {
        case Some(meta) => appendByName(observed, table, meta, partitionBy)
        case None =>
          val w = observed.write.mode(mode)
          (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).saveAsTable(table)
      }
    }

  /** `table`'s catalog entry if it is a table of the session catalog
    * (not a temp view) in the default format; any other target keeps
    * `saveAsTable` and its errors.
    */
  private def appendTarget(spark: SparkSession, table: String): Option[CatalogTable] = {
    val catalog = spark.sessionState.catalog
    val parts = spark.sessionState.sqlParser.parseMultipartIdentifier(table)
    val ident = TableIdentifier(parts.last, parts.init.lastOption)
    if (parts.size > 2 || catalog.isTempView(parts) || !catalog.tableExists(ident)) None
    else Some(catalog.getTableMetadata(ident))
      .filter(_.provider.exists(_.equalsIgnoreCase(spark.sessionState.conf.defaultDataSourceName)))
  }

  private def appendByName(df: DataFrame, table: String, meta: CatalogTable,
      partitionBy: Seq[String]): Unit = {
    val key: String => String =
      if (df.sparkSession.sessionState.conf.caseSensitiveAnalysis) identity
      else _.toLowerCase(Locale.ROOT)
    val cols = meta.schema.fieldNames.toSeq
    require(df.columns.map(key).sorted.sameElements(cols.map(key).sorted),
      s"cannot append to $table: the batch's columns (${df.columns.mkString(", ")})" +
        s" are not the table's (${cols.mkString(", ")})")
    require(partitionBy.map(key) == meta.partitionColumnNames.map(key),
      s"cannot append to $table: partitionBy (${partitionBy.mkString(", ")}) is not" +
        s" the table's partitioning (${meta.partitionColumnNames.mkString(", ")})")
    df.select(cols.map(c => col(s"`${c.replace("`", "``")}`")): _*)
      .write.mode(SaveMode.Append).insertInto(table)
  }

  def saveParquet(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil, mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** DYNAMIC partition overwrite: replaces exactly the partitions
    * present in `df`, leaving every other partition untouched — the
    * restatement primitive of a partitioned warehouse (static
    * Overwrite would drop ALL partitions first; Append would
    * duplicate). The mode is this write's option, which takes
    * precedence over the session's `partitionOverwriteMode`; the
    * session setting, and so every other writer, is left as it is.
    */
  def overwritePartitionsDynamic(df: DataFrame, path: String,
      partitionBy: Seq[String]): Unit = {
    require(partitionBy.nonEmpty, "dynamic overwrite needs partition columns")
    df.write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy: _*).parquet(path)
  }

  def saveJdbc(df: DataFrame, url: String, table: String,
      batchSize: Int = 1000, mode: SaveMode = SaveMode.Append): Unit =
    df.write.mode(mode)
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize)
      .save()

  def tableExists(spark: SparkSession, table: String): Boolean =
    spark.catalog.tableExists(table)

  /** Key-based idempotent append ("insert new records only"): appends
    * the incoming rows whose key is absent from the table, making
    * re-ingestion of an overlapping batch safe — the reference's
    * append-only insert (sqlite_connector.py:178-222) silently
    * duplicates on replay. A key repeated WITHIN the incoming batch is
    * also collapsed to one row (deterministically: the row whose
    * non-key values sort first), so the table's key uniqueness can
    * never be broken — `dropDuplicates` would pick a partition-order-
    * dependent row and change under retry. Returns the number of rows
    * actually added.
    *
    * Scale shape: one shuffle on the key serves both the in-batch
    * dedup window and the left-anti join against existing keys (AQE
    * broadcasts the existing-keys side when it is small); nothing is
    * collected to the driver.
    */
  def upsertTable(spark: SparkSession, table: String, incoming: DataFrame,
      keys: Seq[String]): Long = {
    import org.apache.spark.sql.functions.row_number
    require(keys.nonEmpty, "upsert needs at least one key column")
    val nonKey = incoming.columns.filterNot(keys.contains).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy((if (nonKey.nonEmpty) nonKey else keys).map(col): _*)
    val deduped = incoming.withColumn("_graft_rn", row_number().over(w))
      .filter(col("_graft_rn") === 1).drop("_graft_rn")
    val existingKeys = spark.table(table).select(keys.map(col): _*)
    saveTable(deduped.join(existingKeys, keys, "left_anti"), table)
  }

  /** Incremental aggregate maintenance: fold a batch of PARTIAL
    * aggregates into a stored aggregate table by union + re-combine on
    * `keys`. Every non-key column must be a decomposable aggregate —
    * COUNT/SUM partials, combined here by SUM (the AVG pattern is
    * sum+count stored separately, divided at read time). Per-batch cost
    * is one combine over |stored keys| + |batch keys| rows, never a
    * recompute over history — the materialized-view idiom that keeps
    * corpus-level statistics affordable when history is 100 TB.
    *
    * The merged plan is materialized (localCheckpoint) before the
    * overwrite: Spark cannot overwrite a table from a plan that is
    * still reading it.
    */
  def mergeAggregates(spark: SparkSession, table: String, batch: DataFrame,
      keys: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.sum
    require(keys.nonEmpty, "merge needs at least one key column")
    if (!tableExists(spark, table)) { saveTable(batch, table, mode = SaveMode.Overwrite); () }
    else {
      val valueCols = batch.columns.filterNot(keys.contains).toSeq
      require(valueCols.nonEmpty, "merge needs at least one value column")
      val merged = spark.table(table).unionByName(batch)
        .groupBy(keys.map(col): _*)
        .agg(sum(col(valueCols.head)).as(valueCols.head),
          valueCols.tail.map(c => sum(col(c)).as(c)): _*)
        .localCheckpoint(true)
      saveTable(merged, table, mode = SaveMode.Overwrite)
      ()
    }
  }

  /** Bucketed managed table: pre-partitions (and optionally pre-sorts)
    * by the join/agg key so repeated joins between co-bucketed tables
    * run shuffle-free — the cluster-scale answer to "this join's
    * shuffle becomes the bottleneck at 100 TB". Verified by
    * SinksSpec: a join of two co-bucketed tables plans with no
    * shuffle Exchange.
    */
  def saveBucketedTable(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int, sortCols: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(bucketCols.nonEmpty)
    val w = df.write.mode(mode)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Part files of a parquet directory (data files only, no _SUCCESS /
    * checksums).
    */
  def parquetPartFiles(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
  }

  /** Small-files compaction: rewrite a parquet directory into
    * `targetFiles` files. The small-files problem is THE operational
    * failure mode of continuous ingestion at scale (every micro-batch
    * lands a file per partition; a month later the NameNode/listing
    * and per-file open costs dominate scans). One round-robin exchange
    * sized to the target count; content is untouched. Returns
    * (files before, files after).
    *
    * This is the one-shot primitive; `Layout.compact` (cmp01) is the
    * maintenance lifecycle on top — byte-budget sizing, versioned
    * marker-sealed output, optional range clustering.
    */
  def compactParquet(spark: SparkSession, inPath: String, outPath: String,
      targetFiles: Int): (Int, Int) = {
    require(targetFiles >= 1)
    spark.read.parquet(inPath)
      .repartition(targetFiles)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    (parquetPartFiles(spark, inPath).size, parquetPartFiles(spark, outPath).size)
  }
}
