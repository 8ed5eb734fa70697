package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of the persisted IVF index: each micro-batch
  * of vectors is appended as a frozen-centroid segment
  * (similarity/Ivf.appendToIndex) under the same (lineage, batchId)
  * replay-marker protocol as the other index-maintenance streams —
  * the vector-side twin of Bm25Stream.maintainBm25 (embeddings
  * arrive continuously in a training-data pipeline; the coarse
  * quantizer is re-trained offline, not per batch). */
object IvfStream {

  def maintainIvf(vecs: DataFrame, indexDir: String,
      lineage: String = "run0"): StreamingQuery =
    IndexFeed.start(vecs, indexDir, lineage) { (batch, tag) =>
      // tagged append: a replay whose manifest already committed is
      // skipped instead of double-appending (Ivf.appendToIndex)
      graft.similarity.Ivf.appendToIndex(batch.sparkSession, indexDir, batch, Some(tag))
      // compaction cadence: folds segments into the base table once
      // they exceed the bound, keeping manifest + probe cost
      // O(maxSegments) for any number of micro-batches
      graft.similarity.Ivf.maintain(batch.sparkSession, indexDir)
    }
}
