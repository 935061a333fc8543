package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.Verification

/** Periodic placement-health re-verification: streams replica-snapshot
  * parquet drops and re-runs the *batch* verification operator on each
  * micro-batch via `foreachBatch` — the idiomatic way to reuse a multi-stage
  * batch plan (a driver-side topology read, an exchange and a sorted
  * per-block fold) that streaming aggregation cannot express directly. The trigger is the Spark analog of the
  * reference's fixed-rate scheduler (`Promise.java:353-376`). */
object PlacementMonitor {

  val replicaSchema: StructType = StructType(Seq(
    StructField("block_id", LongType, nullable = false),
    StructField("replica_index", IntegerType, nullable = false),
    StructField("datanode_uuid", StringType, nullable = false),
    StructField("storage_id", StringType, nullable = false)))

  /** Start the monitor: every trigger, verify all blocks seen in the new
    * snapshot files and append results to `outDir` as parquet. */
  def start(spark: SparkSession, snapshotDir: String, topology: DataFrame,
            blocks: DataFrame, outDir: String,
            trigger: Trigger = Trigger.ProcessingTime("30 seconds"),
            checkpointDir: String): StreamingQuery = {
    spark.readStream
      .schema(replicaSchema)
      .parquet(snapshotDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Verification.verifyBalancedOptimal(batch, topology,
            blocks.join(batch.select("block_id").distinct(), "block_id"))
          .write.mode("append").parquet(outDir)
      }
      .start()
  }
}
