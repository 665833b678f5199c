package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Lexical

/** Continuous document ingest into a persisted inverted index — the
  * lexical sibling of `IngestVectors`: an unbounded feed of
  * (doc_id, text) rows lands batch by batch in the postings store
  * that `Lexical.lexSave` wrote and `lexSearch` serves, so BM25
  * retrieval keeps working over everything ingested so far while the
  * stream runs.
  *
  * Each micro-batch is ONE `lexAppendSave`: tokenize, aggregate
  * postings and doc lengths, append — O(batch), never a corpus
  * rescan. The micro-batch id keys the batch's stats row, so the
  * at-least-once replay a restart causes collapses EXACTLY at read
  * time (searches dedupe postings/docstats rows and stats by
  * batch_id) and `lexCompact` reclaims the space offline — the same
  * delivery contract as the vector stores. */
object IngestLexical {

  /** Start the streaming postings ingest into the `lexSave`d store at
    * `indexPath`.
    * `trigger` defaults to a continuous loop; `Trigger.AvailableNow()`
    * drains the source and stops (see the package doc). */
  def start(docs: DataFrame, indexPath: String, checkpoint: String,
            trigger: Trigger = Continuous): StreamingQuery =
    run(docs.selectExpr("doc_id", "text"), checkpoint, trigger) { (batch, batchId) =>
      // batch ids restart at the replayed batch after a crash, so the
      // stats row key is stable across the replay
      Lexical.lexAppendSave(docs.sparkSession, indexPath, batch, batchId + 1L)
    }
}
