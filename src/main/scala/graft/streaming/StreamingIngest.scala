package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

import graft.ingest.Normalizer
import graft.sink.Sinks

/** Continuous ingestion: the reference's batch pipeline (discover →
  * parse → normalize → lineage → sink, src/core/application.py:36-142)
  * run as a Structured Streaming file source over a landing directory —
  * new `.jsonl` files are picked up incrementally, pass through the
  * SAME §1.2 normalization contract, and land through the key-based
  * idempotent upsert sink.
  *
  * Delivery semantics: the file source + checkpoint give at-least-once
  * micro-batches; [[graft.sink.Sinks.upsertTable]] is idempotent on the
  * key, so a replayed batch re-inserts nothing — effectively-once
  * ingestion without a transactional sink, which is exactly the
  * guarantee the reference's append-only SQLite insert lacks on replay.
  *
  * Scale shape: the landing directory is listed incrementally (only new
  * files per trigger), `maxFilesPerTrigger` bounds each micro-batch so
  * a backlog burst can't build one giant batch, and JSONL splits by
  * byte range — a single large landed file still parses across the
  * cluster. The schema is declared, not inferred: continuous inference
  * would re-scan history every trigger and allow silent drift; drifted
  * files surface as nulls (or a quarantine filter upstream), not as a
  * schema change mid-stream.
  */
object StreamingIngest {

  /** Start the continuous-ingestion query. Returns the handle; callers
    * own its lifecycle (`processAllAvailable` in tests, `awaitTermination`
    * in production).
    */
  def ingestStream(spark: SparkSession, dir: String, schema: StructType,
      table: String, keys: Seq[String], checkpointDir: String,
      maxFilesPerTrigger: Int = 32): StreamingQuery = {
    val raw = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)
      .withColumn("_source_path", input_file_name())
    Normalizer.land(raw).writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val s = batch.sparkSession
        // create-if-absent (A14) as an empty shell, then ALWAYS go
        // through the upsert — so the key-uniqueness invariant holds
        // from the very first batch (which may itself carry dup keys)
        if (!Sinks.tableExists(s, table))
          Sinks.saveTable(batch.limit(0).toDF(), table): Unit
        Sinks.upsertTable(s, table, batch.toDF(), keys): Unit
        // invalidate the CALLER session's cached relation/file listing:
        // micro-batches run in a cloned session whose own writes refresh
        // only the clone's cache, so without this a reader on the
        // original session keeps seeing the pre-batch file list
        spark.catalog.refreshTable(table)
      }
      .start()
  }
}
