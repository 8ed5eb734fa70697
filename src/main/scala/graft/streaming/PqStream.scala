package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of the persisted IVF×PQ index: each
  * micro-batch of vectors is coarse-assigned against the FROZEN
  * centroids and PQ-encoded against the FROZEN codebook
  * (similarity/Ivfpq.appendToIndex — FAISS's add-after-train
  * contract run incrementally), landing as a per-list-partitioned
  * code segment + refine-sidecar rows under the same
  * (lineage, batchId) marker protocol as the other index-maintenance
  * streams; the tagged manifest version makes the append itself
  * idempotent across the crash window between the manifest flip and
  * the batch marker. Codebook/centroid drift from accumulated
  * appends is repaired by a periodic offline re-train
  * (Ivfpq.buildIndex), exactly the IVF maintainer's rhythm. */
object PqStream {

  def maintainIvfpq(vecs: DataFrame, indexDir: String,
      lineage: String = "run0"): StreamingQuery =
    IndexFeed.start(vecs, indexDir, lineage) { (batch, tag) =>
      graft.similarity.Ivfpq.appendToIndex(batch.sparkSession, indexDir, batch,
        tag = Some(tag))
      // compaction cadence: manifest + probe unions stay
      // O(maxSegments) for any number of micro-batches
      graft.similarity.Ivfpq.maintain(batch.sparkSession, indexDir)
    }
}
