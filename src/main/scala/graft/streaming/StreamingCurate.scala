package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Classify, Scrub}

/** Streaming corpus curation as a PURE streaming query — no foreachBatch,
  * no custom state: PII scrub is a narrow codegen'd map, and the quality
  * classifier scores through a STREAM-STATIC broadcast join (the model is
  * the static side, one row; Structured Streaming re-reads static sides
  * per micro-batch, which for a 1-row local relation is free). Append
  * output mode, so the sink accumulates exactly one curated record per
  * input doc across any micro-batch slicing — the result is
  * batch-identical by construction, and the q135 oracle checks it
  * value-for-value.
  *
  * This is the shape a live ingestion pipeline wants for the
  * stateless stages: scrub/score/gate ride the stream with zero state
  * store cost; only dedup (StreamingDedupIndex) and aggregation need
  * stateful machinery.
  */
object StreamingCurate {

  /** Scrub + score each arriving doc's `text`, one file per
    * micro-batch; append curated records to `targetPath`. `model` must
    * be a [[Classify.centroidModel]]-shaped 1-row frame (static side of
    * the stream-static join).
    */
  def runAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      model: DataFrame,
      targetPath: String,
      checkpointDir: String,
  ): Unit = {
    val raw = Backlog.read(spark, sourceDir, schema, Some(1))
    // stream-static BROADCAST CROSS JOIN with the 1-row static model
    // (Classify.scoreByModel issues docs.crossJoin(broadcast(model)) —
    // stream-static cross joins are supported, and against a broadcast
    // 1-row side the "product" is a constant-append); the scrubbed text
    // is what gets scored — score the corpus the trainer will see
    val scrubbed = Scrub.redactPii(raw, "text")
    val scored = Classify.scoreByModel(
      scrubbed.drop("text").withColumnRenamed("redacted", "text"),
      model, "text")
    val curated = scored.select(col("doc_id"),
      col("n_email"), col("n_ip"), col("n_phone"),
      md5(col("text")).as("redacted_md5"),
      col("margin").cast("long").as("margin"),
      col("quality_pred"))
    Backlog.toFiles(curated, targetPath, checkpointDir)
  }
}
