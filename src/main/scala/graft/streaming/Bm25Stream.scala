package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of the segmented BM25 index: each
  * micro-batch of documents becomes one segment append (replacements
  * tombstoned, stats corrected — operators/SegmentedBm25.scala),
  * under the same `(lineage, batchId)` replay-marker protocol as
  * EventsStream.maintainIndex (see there for why batchId alone is
  * unsafe). This is the reference's harvest→Solr feed loop
  * (harvest.py:185-208 posts new-updated/ sets to a long-lived
  * collection) run as a structured stream: readers keep serving the
  * manifest's previous version mid-append, exactly like Solr serves
  * during an incremental update. */
object Bm25Stream {

  def maintainBm25(docs: DataFrame, indexDir: String, idCol: String,
      textCol: String, lineage: String = "run0"): StreamingQuery =
    IndexFeed.start(docs, indexDir, lineage) { (batch, _) =>
      graft.operators.SegmentedBm25.append(batch, idCol, textCol, indexDir)
      // compaction cadence: bounds segment count, tombstone volume,
      // and the driver-side manifest for ANY number of micro-batches
      // (see SegmentedBm25.maintain). Crash-safe mid-maintain: an
      // interrupted compact leaves an orphan segment dir the manifest
      // never references.
      graft.operators.SegmentedBm25.maintain(batch.sparkSession, indexDir)
    }
}
