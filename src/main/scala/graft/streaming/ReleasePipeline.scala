package graft.streaming

import graft.ext.{Dedup, TextOps}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The training-data release pipeline run INCREMENTALLY on the reference's
  * micro-batch cadence (schedule.every(8).minutes, etl2.py:462-467):
  * documents stream in, the PER-DOCUMENT curation stages (benchmark
  * contamination gate → PII redaction) run on each micro-batch, and the
  * survivors accumulate in a curated store; the CORPUS-GLOBAL release
  * stages (temperature mixing → deterministic shuffle shards) run over
  * the accumulated store at release time.
  *
  * The split is principled, not incidental: the contamination verdict and
  * the redaction are pure per-row functions of (document, static
  * benchmark), so the union of per-micro-batch outputs is EXACTLY the
  * one-shot batch output over the union — while the mixing rates and
  * shard positions depend on whole-corpus counts and cannot be finalized
  * per batch. `foreachBatch` reuses the batch operators verbatim (the
  * [[MicroBatchMerge]] rationale), so streaming and batch semantics
  * cannot drift; ReleasePipelineSpec pins two-micro-batches ≡ one-batch
  * equality against the q96 catalog query bit-for-bit.
  *
  * Scale shape: per micro-batch the only shuffle is the contamination
  * gate's shingle join (bench side static); the curated store appends
  * columnar parquet; the release is q96's one lazy plan — counts-only /
  * broadcast intermediate shuffles, ONE exchange on the shard key.
  */
object ReleasePipeline {

  /** Per-document curation: drop documents whose `shingleN`-gram overlap
    * with the static `bench` corpus reaches `dropPct` percent, then
    * redact PII in the survivors (appends `<textCol>_redacted`).
    */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             bench: DataFrame, shingleN: Int = 8,
             dropPct: Int = 10): DataFrame = {
    val kept = Dedup.contaminationReport(docs, idCol, textCol, bench,
        shingleN, dropPct)
      .filter(!col("dropped")).select(idCol)
    TextOps.redactPii(docs.join(kept, Seq(idCol), "left_semi"), textCol)
  }

  /** Corpus-global release over curated documents: α-temperature
    * mixing to `budget` documents, then deterministic shuffle shards;
    * emits (shard, pos, id, redacted_md5) ordered by (shard, pos) —
    * the exact q96 surface.
    */
  def release(curated: DataFrame, idCol: String, srcCol: String,
              budget: Long, nShards: Int,
              textRedactedCol: String = "text_redacted"): DataFrame = {
    val mixed = TextOps.temperatureMixSample(curated, idCol, srcCol, budget)
    TextOps.shuffleShards(mixed, idCol, nShards)
      .select(col("shard"), col("pos"), col(idCol),
        md5(col(textRedactedCol)).as("redacted_md5"))
      .orderBy("shard", "pos")
  }

  /** Start the incremental curation loop: watch `sourceDir` for new
    * parquet document files, curate each micro-batch against the static
    * `bench`, append survivors to `curatedDir`. Release by calling
    * [[release]] over the curated store whenever a cut is wanted.
    */
  def start(spark: SparkSession, sourceDir: String, schemaSource: String,
            bench: DataFrame, idCol: String, textCol: String,
            curatedDir: String, checkpointDir: String,
            shingleN: Int = 8, dropPct: Int = 10,
            trigger: Trigger = Trigger.ProcessingTime("8 minutes"))
      : StreamingQuery = {
    val schema = spark.read.parquet(schemaSource).schema
    spark.readStream
      .schema(schema)
      .parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        // foreachBatch is at-least-once: keying the write by batchId and
        // OVERWRITING that batch's own subdirectory makes a replayed
        // micro-batch idempotent (a plain append would duplicate the
        // batch's documents and silently break streaming ≡ batch) — the
        // same discipline as MicroBatchMerge's idempotent sink
        curate(batch.toDF(), idCol, textCol, bench, shingleN, dropPct)
          .write.mode("overwrite").parquet(s"$curatedDir/batch=$batchId")
        ()
      }
      .start()
  }
}
