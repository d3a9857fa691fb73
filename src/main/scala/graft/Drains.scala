package graft

import graft.streaming.{ExactlyOnce, Streaming}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The crash-injection harness of the declared exactly-once drains
  * (IVF q185, postings q186, register q188, SQ8 q189, graph q190):
  * one resumable drain of the staged feed under a fresh durable
  * checkpoint in which every batch is delivered TWICE (the
  * at-least-once re-delivery) and two batches replay the harder
  * crash windows:
  *  - batch 1 starts over its own CRASH DEBRIS — the stage dir an
  *    attempt that died before its marker leaves under `stageRoot`
  *    (the recovery-scrub path; the stage-and-promote families
  *    only);
  *  - batch 2's re-delivery arrives with its MARKER DELETED — a crash
  *    after the promote, before the marker (the deterministic-name
  *    REPLACE path). With `restoreIntent` the intent the graph
  *    family's crashed attempt would have left is put back.
  * Every batch must end committed in `ledger`; after the drain the
  * checkpoint's watermark sweep must have retired every marker and
  * no stage dir may stand under `stageRoot`.
  *
  * `batchFn(batch, bid)` prepares the batch once (its
  * `localCheckpoint`) and returns the delivery, which is told whether
  * it is the re-delivery — a query keeps its own in-batch checks. */
object Drains {

  def exactlyOnce(s: SparkSession, q: String, stage: String, ckpt: String,
                  ledger: java.io.File, stageRoot: Option[() => java.io.File],
                  restoreIntent: Boolean = false)(
      batchFn: (DataFrame, Long) => Boolean => Unit): Unit = {
    FileTree.delete(new java.io.File(ckpt))
    val src = s.readStream.schema(s.read.parquet(stage).schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    Streaming.runForeachBatchResumable(s, src, ckpt, (batch, bid) => {
      val deliver = batchFn(batch, bid)
      if (bid == 1L) stageRoot.foreach(r => ExactlyOnce.crashedStage(r(), bid))
      deliver(false)
      if (bid == 2L) {
        require(ExactlyOnce.marker(ledger, bid).delete(),
          s"$q: batch $bid must have committed a marker")
        if (restoreIntent)
          java.nio.file.Files.createFile(ExactlyOnce.intent(ledger, bid).toPath)
      }
      deliver(true)
      require(ExactlyOnce.isApplied(ledger, bid),
        s"$q: batch $bid must end committed in the ledger")
    }, sweepLedgers = Seq(ledger))
    val markers = Option(ledger.listFiles()).toSeq.flatten.map(_.getName)
    require(markers.isEmpty,
      s"$q: the post-drain sweep must retire every marker, got $markers")
    stageRoot.foreach { r =>
      val debris = ExactlyOnce.stages(r()).map(_.getName)
      require(debris.isEmpty, s"$q: the drain must leave no stage debris, got $debris")
    }
  }
}
