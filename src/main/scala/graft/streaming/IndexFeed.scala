package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

/** The `(lineage, batchId)` replay-marker protocol of the segmented
  * index feeds ([[IvfStream]], [[PqStream]], [[Bm25Stream]]): a
  * non-empty micro-batch is applied with its `<lineage>-<batchId>` tag,
  * then `indexDir/_batch-<lineage>-<batchId>` lands atomically, and a
  * batch whose marker exists is skipped — a fresh checkpoint over the
  * same lineage restarts batch ids at 0, so batchId alone is unsafe
  * (see EventsStream.maintainIndex). */
private[streaming] object IndexFeed {

  def start(rows: DataFrame, indexDir: String, lineage: String)(
      apply: (DataFrame, String) => Unit): StreamingQuery =
    rows.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val marker = Paths.get(indexDir, s"_batch-$lineage-$batchId")
        if (!Files.exists(marker)) {
          if (!batch.isEmpty) apply(batch.toDF(), s"$lineage-$batchId")
          Files.createDirectories(Paths.get(indexDir))
          val tmp = Paths.get(indexDir, s"_batch-$lineage-$batchId.tmp")
          Files.writeString(tmp, "done")
          Files.move(tmp, marker, StandardCopyOption.ATOMIC_MOVE)
        }
        ()
      }
      .start()
}
